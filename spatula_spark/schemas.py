"""Engine StructTypes.

The reference has no schemas at all — every record is a live Python
object on the call stack (``/root/reference/src/spatula/pages.py:206-244``).
Making the frontier an explicit DataFrame is the core architecture
change; these types are its contract.

The ``path`` column is the lineage key that reconstructs the
reference's depth-first emission order from our breadth-first waves
(SURVEY.md §7.3). It is a fixed-width hex string: each level appends
``kk iiiiiiii`` where ``kk`` is a 2-hex-digit slot kind (``00`` =
child/item slot, ``01`` = pagination slot) and ``iiiiiiii`` the
8-hex-digit index. Plain lexicographic string order == the reference's
DFS pre-order (items/children in document order, pagination after —
``pages.py:225-244``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# one row per pending page fetch; the explicit version of the
# reference's recursion frames (`Page` instances awaiting `_to_items`).
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("page_cls", T.StringType(), False),
        T.StructField("url", T.StringType(), True),  # null => NullSource
        T.StructField("input_json", T.StringType(), True),
        T.StructField("path", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("page_seq", T.IntegerType(), False),  # pagination chain index
        # page-identity hashes, computed at EMISSION time (one pass,
        # CSE-shared) so small-wave dedup can run driver-side without a
        # Spark job; null for seeds / hook-class emissions — the engine
        # coalesces in a cluster-side recompute when absent
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("seen_key", T.LongType(), True),
    ]
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("page_cls", T.StringType(), False),
        T.StructField("item_json", T.StringType(), False),
        T.StructField("wave", T.IntegerType(), False),
    ]
)

# lineage path-key construction ------------------------------------------

SLOT_CHILD = "00"
SLOT_PAGINATION = "01"
_IDX_WIDTH = 8


def path_key(parent_path: str, slot: str, index: int) -> str:
    """Append one lineage level (driver-side helper, used for seeds)."""
    return f"{parent_path}{slot}{index:0{_IDX_WIDTH}x}"


def root_path(seed_seq: int) -> str:
    return path_key("", SLOT_CHILD, seed_seq)
