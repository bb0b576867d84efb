"""The operator mix: a fixed list of registered queries and their oracle check.

``mix.json`` holds the list: the reference-core queries plus one seeded
draw (``draw_seed``) from every other module that registers queries.
``python3 perfbench/mix.py`` redraws it from the registry and prints the
JSON; the benchmark itself only reads the recorded file.
"""

from __future__ import annotations

import json
import math
import os
import random
from decimal import Decimal

MIX_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "mix.json")


def load_mix() -> dict:
    with open(MIX_FILE) as f:
        return json.load(f)


def mix_queries(mix: dict | None = None) -> list[str]:
    mix = mix or load_mix()
    return list(mix["reference_core"]) + [mix["drawn"][m] for m in sorted(mix["drawn"])]


def draw(registry, seed: int, core: list[str], excluded: dict[str, str]) -> dict[str, str]:
    """One seeded query per registering module not already in ``core``."""
    core_mods = {registry.QUERIES[q].__module__ for q in core}
    by_mod: dict[str, list[str]] = {}
    for name, fn in registry.QUERIES.items():
        by_mod.setdefault(fn.__module__, []).append(name)
    rng = random.Random(seed)
    drawn = {m: rng.choice(sorted(qs)) for m, qs in sorted(by_mod.items())
             if m not in core_mods}
    return {m: q for m, q in drawn.items() if m not in excluded}


def _canon_cell(v: object) -> str:
    """Order-insensitive, type-strict cell text (no cross-type or
    trailing-zero normalisation, so a changed output type or scale fails)."""
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        return "0" if v == 0.0 else repr(v)
    if isinstance(v, Decimal):
        return "dec:" + format(v.copy_abs() if v.is_zero() else v, "f")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(_canon_cell(x) for x in seq) + "]"
    return str(v)


def result_hash(df) -> tuple[list[str], int, str]:
    """(sorted column names, row count, sha256 of the sorted canonical rows)
    of a pandas frame."""
    import hashlib

    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False)
    )
    return cols, len(rows), hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def oracle_hash(con, sql: str) -> tuple[list[str], int, str]:
    return result_hash(con.execute(sql).fetch_arrow_table().to_pandas())


def duck_connect(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from merl_etl_spark import registry

    registry.load_all()
    mix = load_mix()
    mix["drawn"] = draw(registry, mix["draw_seed"], mix["reference_core"],
                        mix.get("excluded_modules", {}))
    print(json.dumps(mix, indent=2))
