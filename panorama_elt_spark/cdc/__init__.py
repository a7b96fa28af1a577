from .dedupe import lww_dedupe_window
from .generator import ChangeLogSpec, generate_change_log, expected_final_state
from .merge import BatchStats, MergeStats, batch_events, compute_batch_stats, merge_batch
from .engine import CdcEngine, ReplayReport

__all__ = [
    "lww_dedupe_window",
    "ChangeLogSpec",
    "generate_change_log",
    "expected_final_state",
    "BatchStats",
    "MergeStats",
    "batch_events",
    "compute_batch_stats",
    "merge_batch",
    "CdcEngine",
    "ReplayReport",
]
