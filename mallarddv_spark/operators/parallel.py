"""The one concurrency helper for vault loads.

A flow's hub, link and satellite stages are independent: no load reads
another stage's table (links read only the hash view, satellites the hash
view and their own history). The same holds for loads targeting
*different* DV tables inside a stage. Running independent chains from
concurrent driver threads lets Spark's scheduler overlap their jobs — on a
cluster this overlaps shuffle/scan waves, locally it overlaps job setup
latencies and commits.

Work feeding the SAME table stays strictly ordered in one chain (a staging
table can feed one hub under several group names and later groups must see
earlier groups' keys — reference demo does exactly this).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

_MAX_WORKERS = 4


def run_per_table(
    tasks: dict[str, list[Callable[[], None]]],
) -> list[tuple[str, Exception]]:
    """Run the ``tasks[key]`` chains concurrently across keys, sequentially
    within each chain. A chain stops at its first failure; the other chains
    still run to completion. Returns every ``(key, exception)`` failure, in
    the keys' insertion order (empty when all chains succeeded).

    Each worker thread starts from its own copy of the caller's Spark
    local properties (job description, scheduler pool), so its jobs carry
    the caller's tags until it sets its own."""

    def run_chain(chain: list[Callable[[], None]]) -> Exception | None:
        try:
            for fn in chain:
                fn()
        except Exception as ex:
            return ex
        return None

    if len(tasks) <= 1:
        results = [run_chain(chain) for chain in tasks.values()]
    else:
        # one wrap per chain: each wrap copies the caller's properties, and
        # a copy shared by two threads would let one chain's
        # setJobDescription relabel the other's jobs
        session = SparkSession.active()
        with ThreadPoolExecutor(max_workers=min(_MAX_WORKERS, len(tasks))) as pool:
            futures = [
                pool.submit(inheritable_thread_target(session)(run_chain), chain)
                for chain in tasks.values()
            ]
            results = [f.result() for f in futures]
    return [(key, ex) for key, ex in zip(tasks, results) if ex is not None]
