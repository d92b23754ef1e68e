"""Value types of the filesystem toolkit.

Mirrors the reference's case classes (reference: fs/FsElement.scala:9,
fs/Paths.scala:8, fs/FsOperationResult.scala:8).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class FsElement:
    """One file or directory (reference: fs/FsElement.scala:9)."""

    path: str
    is_dir: bool
    byte_size: int


@dataclass(frozen=True)
class Paths:
    """Source→target pair for copy/move (reference: fs/Paths.scala:8)."""

    source_path: str
    target_path: str


@dataclass(frozen=True)
class FsOperationResult:
    """Per-path outcome (reference: fs/FsOperationResult.scala:8)."""

    path: str
    success: bool

