"""Compaction policy — which parts a scheduled merge takes.

Pure metadata arithmetic on the driver (no Spark job) over manifest rows;
the merge *job* itself lives in merge_tree.SparkMergeTree.

Deviation from the reference, documented. The reference enumerates all
pairs plus consecutive triples (src/merger.cpp:84-130) and scores them
(src/merger.cpp:140-174) as

    score = (min_size / max_size)            # prefer similar-sized parts
          * (1 / num_parts)                  # prefer fewer parts per merge
          * min(1, total_size / 10 MiB)      # prefer merges worth the I/O
          * 100

Below 10 MiB the size factor lets the largest similar group win, so the
biggest part is rewritten on every other merge and write amplification
grows with the number of inserts. Here a merge takes an ADJACENT run of 2
or 3 parts of one partition in insert order (``PartMeta.blocks``), as
ClickHouse's SimpleMergeSelector merges contiguous ranges, and the run
that rewrites the fewest bytes per part it removes goes first:
``cost = total_size / (width - 1)``. Widths stay at {2, 3}: with no cap
that cost would always favour a wider run. N parts give at most 2N - 3
candidates, not O(N^2).
"""

from __future__ import annotations

from dataclasses import dataclass

from clickhouse_mergetree_spark.engine.manifest import PartMeta


@dataclass
class MergeCandidate:
    part_ids: list[int]
    total_rows: int
    total_size: int
    cost: float  # bytes rewritten per part removed: lower is better


def select_merge_candidates(parts: list[PartMeta]) -> list[MergeCandidate]:
    """Every adjacent run of 2 or 3 ``parts`` within a partition, in
    insert order, cheapest first; a tie goes to the older run. Runs
    holding a part with unknown stats (a recovered part before its stats
    rebuild) are skipped."""
    groups: dict[str | None, list[PartMeta]] = {}
    for p in sorted(parts, key=lambda p: (p.blocks[0], p.part_id)):
        groups.setdefault(p.partition, []).append(p)
    runs = [g[i:i + width] for g in groups.values() for width in (2, 3)
            for i in range(len(g) - width + 1)]
    runs = [run for run in runs
            if all(p.row_count >= 0 and p.disk_size > 0 for p in run)]

    def cost(run: list[PartMeta]) -> float:
        return sum(p.disk_size for p in run) / (len(run) - 1)

    runs.sort(key=lambda run: (cost(run), run[0].blocks[0]))
    return [MergeCandidate(part_ids=[p.part_id for p in run],
                           total_rows=sum(p.row_count for p in run),
                           total_size=sum(p.disk_size for p in run),
                           cost=cost(run))
            for run in runs]
