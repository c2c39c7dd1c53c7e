"""Politeness fetch-schedule projection: when will each frontier URL
actually be fetched, and when does each host drain?

Reference parity target: spatula's single-threaded loop gets
politeness for free (one fetch at a time; reference
src/spatula/pages.py fetches inside Page._fetch_data sequentially) —
a distributed crawler must instead PLAN the per-host timeline so it
can (a) provision wave sizes, (b) predict host drain times for the
recrawl scheduler (operators/recrawl.py), and (c) bound the makespan
a politeness budget implies before burning cluster time. This
operator materializes that plan: per host, URLs are served in
priority order, one every ``crawl_delay_ms``, so the URL in slot k
fetches at ``k * crawl_delay_ms``.

Shape at scale: ONE window (row_number over host ordered by priority)
— exactly the shuffle the engine's wave loop already pays for
politeness splitting, so the schedule is free to co-compute. The
output is a slim 6-column table; no payloads move. Skewed hosts are
the interesting case on purpose: the slot column makes a
pathological host visible as a large makespan, which is the signal
the crawl-budget machinery (url_template_mining, crawl_trap_hosts)
acts on.

Determinism: priority ties broken by url_id, so row_number — and
therefore every fetch_at_ms — is a pure function of the frontier,
replayable bit-for-bit by any SQL engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fetch_schedule(
    frontier: DataFrame,
    host_col: str = "host",
    delay_col: str = "crawl_delay_ms",
    priority_col: str = "priority",
    id_col: str = "url_id",
) -> DataFrame:
    """Assign each frontier row its politeness slot and fetch time.

    ``frontier`` columns: host, crawl_delay_ms (per-host constant),
    priority (higher first), url_id (tiebreak). Returns the frontier
    plus ``slot`` (0-based per-host serve order), ``fetch_at_ms``
    (slot * delay) and ``sec_bucket`` (fetch_at_ms // 1000 — the
    global concurrency histogram key: counting rows per sec_bucket
    forecasts cluster-wide fetch load over time)."""
    win = Window.partitionBy(host_col).orderBy(
        F.col(priority_col).desc(), F.col(id_col).asc()
    )
    slot = F.row_number().over(win) - 1
    return (
        frontier.withColumn("slot", slot.cast("long"))
        .withColumn(
            "fetch_at_ms", (F.col("slot") * F.col(delay_col)).cast("long")
        )
        .withColumn(
            "sec_bucket", F.expr("fetch_at_ms div 1000").cast("long")
        )
    )

