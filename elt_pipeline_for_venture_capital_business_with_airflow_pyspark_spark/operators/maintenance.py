"""Index upkeep policy: turn the small-file DIAGNOSTIC
(``sources.io.table_file_stats``) and the small-file FIX
(``dedup.compact_lsh_index`` / ``similarity.compact_ivf_index``) into
the decision a long-running pipeline actually schedules —
``maybe_compact_index`` runs after every daily append and compacts
only when the file layout has genuinely degraded.

Why a policy and not a cron'd compaction: rewriting a 100-TB index
every day costs a full read+write of the index for zero benefit, and
NEVER rewriting it makes a year of daily appends pay ~365× the file
listing/footer overhead per probe. The trigger below gives natural
hysteresis — compaction resets the file count to ~1 per partition, so
the threshold can't re-fire until another ``min_files`` worth of
appends accumulate. No thrash, bounded file count, and the compactors
themselves are bit-identical rewrites (pinned in
tests/test_index_lifecycle.py), so the policy can fire at ANY point
without changing one probe result.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources import io as IO
from . import dedup as DD
from . import similarity as SIM

__all__ = ["index_kind", "maybe_compact_index"]


def index_kind(spark: SparkSession, path: str) -> str:
    """'lsh' | 'ivf' from the persisted layout (an LSH index has
    ``signatures``+``bands`` dirs, an IVF index ``centroids``+
    ``cells``). Raises ValueError on anything else — an unknown
    layout must never be 'maintained' by guesswork."""

    def _exists(sub: str) -> bool:
        return IO.path_exists(spark, f"{path}/{sub}")

    if _exists("signatures") and _exists("bands"):
        return "lsh"
    if _exists("centroids") and _exists("cells"):
        return "ivf"
    raise ValueError(
        f"{path} is neither an LSH (signatures/bands) nor an IVF "
        "(centroids/cells) index layout"
    )


def maybe_compact_index(
    spark: SparkSession,
    path: str,
    *,
    target_file_mb: int = 256,
    min_files: int = 16,
    mean_floor_frac: float = 0.25,
) -> dict:
    """Compact a persisted LSH/IVF index IFF its data-file layout has
    degraded: more than ``min_files`` data files AND mean file size
    below ``mean_floor_frac`` of the writer's ``target_file_mb`` —
    exactly the alert rule ``table_file_stats`` documents. Both
    conditions matter: the count floor stops a fresh (or just
    compacted) index from re-compacting on every call (hysteresis —
    after a compaction the count drops to ~1 file per partition and
    the trigger is disarmed for the next ~``min_files`` appends), and
    the mean-size test stops a LEGITIMATELY large index (many files
    because it holds terabytes) from being rewritten when its files
    are already at target size.

    Returns the decision evidence either way:
    ``{kind, compacted, n_files, mean_bytes, threshold_bytes,
    report}`` with ``report`` the compactor's before/after counts
    when it ran (None otherwise) — the row an ops log keeps.
    """
    kind = index_kind(spark, path)
    stat_dirs = (
        ["signatures", "bands"] if kind == "lsh" else ["cells"]
    )
    n_files = 0
    total_bytes = 0
    for sub in stat_dirs:
        s = IO.table_file_stats(spark, f"{path}/{sub}")
        n_files += s["n_files"]
        total_bytes += s["total_bytes"]
    mean_bytes = total_bytes // n_files if n_files else 0
    threshold_bytes = int(mean_floor_frac * target_file_mb * 1024 * 1024)
    should = n_files > min_files and mean_bytes < threshold_bytes
    report = None
    if should:
        if kind == "lsh":
            report = DD.compact_lsh_index(
                spark, path, target_file_mb=target_file_mb
            )
        else:
            report = SIM.compact_ivf_index(
                spark, path, target_file_mb=target_file_mb
            )
    return {
        "kind": kind,
        "compacted": should,
        "n_files": n_files,
        "mean_bytes": mean_bytes,
        "threshold_bytes": threshold_bytes,
        "report": report,
    }
