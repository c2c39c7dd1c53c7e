"""Result sinks (reference ``spatula scrape``/``scout`` output layer).

The reference writes one JSON file per item, named by ``get_filename()``
or uuid4 (``/root/reference/src/spatula/cli.py:424-430,179-183``), and
a single ``scout.json`` (``cli.py:466-468``). The engine's primary sink
is columnar (parquet/Iceberg append); these helpers exist for
reference-parity output and small-scale inspection:

* deterministic filenames from the lineage path key instead of uuid4 —
  re-runs produce identical trees (idempotent resume-safe sink)
* ``to_json_files`` collects through ``toLocalIterator`` so the driver
  never holds the full result set
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame


def to_json_files(
    results: DataFrame,
    out_dir: str,
    get_filename: Callable[[dict], str] | None = None,
    dump: Callable | None = None,
) -> int:
    """Reference-parity sink: one JSON file per item
    (cli.py:424-430). Filenames default to the lineage path key —
    deterministic where the reference used uuid4 (cli.py:179-183).
    ``dump`` is the reference's custom dump function hook
    (cli.py:382,420-429): called as ``dump(item_dict, file)``; defaults
    to ``json.dump``."""
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    dump = dump or json.dump
    for row in results.select("path", "item_json").toLocalIterator():
        item = json.loads(row["item_json"])
        name = (
            get_filename(item) if get_filename is not None
            else f"{row['path']}.json"
        )
        with open(os.path.join(out_dir, name), "w") as f:
            dump(item, f)
        n += 1
    return n


def write_scout_json(scout_results: list[dict], out_path: str) -> None:
    """Reference ``scout`` sink (cli.py:466-468)."""
    with open(out_path, "w") as f:
        json.dump(scout_results, f, indent=2)
