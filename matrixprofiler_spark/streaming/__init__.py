"""Incremental / resumable orchestration (snapshot checkpoints + lineage)."""

from .checkpoint import RollupJob
from .commit import GroupCommit, read_manifest

__all__ = ["GroupCommit", "RollupJob", "read_manifest"]
