"""Distributed frontier scheduler: exact URL-seen anti-join, politeness,
DFS-priority admission, round loop + record assembly."""

from .engine import FrontierEngine, assemble_records

__all__ = ["FrontierEngine", "assemble_records"]
