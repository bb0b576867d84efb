"""Seeded generator for the benchmark's inputs and their expected outputs.

Everything here is pure Python/NumPy/pandas: no Spark.  The same seed gives
byte-identical tables, pages and expected values.

Shapes follow FIXTURES.md:

- holders snapshots (one per 6h bucket): ``quantity_raw`` digit strings up
  to 78 digits (uint256), mostly 18 but some 6/8 ``token_decimal``, exact
  ties in scaled balance (also across the rank-100 cut), and replayed rows
  with an older ``updated_at`` that last-wins must discard;
- transfers: wallet activity skewed towards the largest holders, mixed-case
  raw addresses, ~5% replayed rows (same hour and previous hour), some null
  ``transaction_index`` (one replayed with index 0, which the dedup key
  ``coalesce(transaction_index, 0)`` treats as the same row);
- fixture-shaped tables (``region`` .. ``embeddings``) for the operator mix.

Expected values (Top-100, report totals, appended-row counts) are computed
with ``decimal.Decimal`` and Python ints, independently of the engine.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal, localcontext

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TOKEN = "0x5c46bff4b38dc1eae09c5bac65872a1d8bc87378"
TOKEN_SYMBOL = "MERL"
EPOCH = dt.datetime(2024, 3, 1)  # first generated hour (UTC, naive)
HOUR = 3600
BUCKET = 6 * HOUR
UINT256_MAX = 2**256 - 1

# raw page schema offered by the explorer API (what sources.paged drains)
RAW_COLUMNS = [
    "wallet_address", "contract_address", "block_number", "block_time_unix",
    "tx_hash", "nonce", "from_address", "to_address", "value_raw",
    "token_symbol", "token_decimal", "transaction_index", "gas", "gas_used",
    "input", "ingested_at",
]
RAW_SCHEMA = (
    "wallet_address string, contract_address string, block_number bigint, "
    "block_time_unix bigint, tx_hash string, nonce bigint, from_address string, "
    "to_address string, value_raw string, token_symbol string, token_decimal int, "
    "transaction_index int, gas bigint, gas_used bigint, input string, "
    "ingested_at timestamp"
)
HOLDERS_SCHEMA = (
    "trigger_id string, bucket_start_utc timestamp, contract_address string, "
    "holder_address string, token_decimal int, quantity_raw string, "
    "inserted_at timestamp, updated_at timestamp"
)
HOLDER_COLUMNS = [c.split()[0] for c in HOLDERS_SCHEMA.split(", ")]


def _hex(rng: np.random.Generator, n: int, nbytes: int) -> list[str]:
    raw = rng.integers(0, 256, size=(n, nbytes), dtype=np.uint8).tobytes().hex()
    w = 2 * nbytes
    return ["0x" + raw[i:i + w] for i in range(0, n * w, w)]


def _mixed_case(addr: str, flip: bool) -> str:
    """Explorer variants return checksummed (mixed-case) addresses."""
    return "0x" + addr[2:].upper() if flip else addr


def hour_start(h: int) -> dt.datetime:
    return EPOCH + dt.timedelta(hours=h)


def bucket_of_hour(h: int) -> int:
    return (h * HOUR) // BUCKET


def bucket_start(b: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=b * BUCKET)


# ---------------------------------------------------------------------------
# Expected-value helpers (Decimal reference semantics)
# ---------------------------------------------------------------------------


def scaled(raw: str, dec: int) -> Decimal:
    with localcontext() as ctx:
        ctx.prec = 200
        return Decimal(int(raw)).scaleb(-dec)


def display_balance(raw: str, dec: int) -> Decimal | None:
    """The Top-100 ``balance`` column: DECIMAL(38,6), HALF_UP, NULL when the
    integer part needs more than 32 digits (ANSI-off overflow policy)."""
    with localcontext() as ctx:
        ctx.prec = 200
        q = scaled(raw, dec).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        return None if q.adjusted() >= 32 else q


def rank_top100(snapshot: pd.DataFrame, k: int = 100) -> list[tuple]:
    """RANK() over (scaled balance DESC, holder ASC), kept while rank <= k.
    Rows: (rnk, holder_address, quantity_raw, token_decimal, balance)."""
    rows = sorted(
        (
            (scaled(r, d), h, r, d)
            for h, r, d in zip(
                snapshot["holder_address"], snapshot["quantity_raw"], snapshot["token_decimal"]
            )
        ),
        key=lambda t: (-t[0], t[1]),
    )
    # holder_address is unique and part of the order key, so ranks never
    # tie: equal scaled balances are ordered by address
    return [
        (rank, h, r, int(d), display_balance(r, int(d)))
        for rank, (_s, h, r, d) in enumerate(rows[:k], start=1)
    ]


def report_totals(rows: pd.DataFrame, wallets: set[str]) -> dict:
    """Totals of the hourly activity report over already-windowed rows."""
    sel = rows[rows["wallet_address"].isin(wallets)]
    with localcontext() as ctx:
        ctx.prec = 200
        inflow = sum(
            (Decimal(int(v)).scaleb(-18) for v, w, t in
             zip(sel["value_raw"], sel["wallet_address"], sel["to_address"]) if w == t),
            Decimal(0),
        )
        outflow = sum(
            (Decimal(int(v)).scaleb(-18) for v, w, f in
             zip(sel["value_raw"], sel["wallet_address"], sel["from_address"]) if w == f),
            Decimal(0),
        )
    return {
        "active_wallets": int(sel["wallet_address"].nunique()),
        "tx_rows": int(len(sel)),
        "total_in": inflow,
        "total_out": outflow,
        "net": inflow - outflow,
    }


def fmt2(d: Decimal) -> str:
    """``functions.scalar.commify``: HALF_UP to 2dp with thousands commas."""
    q = d.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    return f"{q:,.2f}"


def expected_report_lines(totals: dict) -> list[str]:
    return [
        f"active wallets: {totals['active_wallets']} | txs: {totals['tx_rows']}",
        f"in: {fmt2(totals['total_in'])} | out: {fmt2(totals['total_out'])} "
        f"| net: {fmt2(totals['net'])}",
    ]


# ---------------------------------------------------------------------------
# Chain generator: holders snapshots + hourly transfers
# ---------------------------------------------------------------------------


@dataclass
class Chain:
    """One seeded token universe.  Methods are pure functions of
    (seed, argument): generating hour 7 never depends on whether hour 6 was
    generated first."""

    seed: int
    n_holders: int = 8000
    rows_per_hour: int = 1200
    replay_share: float = 0.05
    page_size: int = 250
    wallets: list[str] = field(init=False)
    _base_exp: np.ndarray = field(init=False)
    _weights: np.ndarray = field(init=False)

    def __post_init__(self) -> None:
        rng = self._rng("universe")
        self.wallets = _hex(rng, self.n_holders, 20)
        # heavy-tailed base magnitude: most holders ~1e15-1e20 raw units,
        # a few whales up to ~1e27
        u = rng.random(self.n_holders)
        self._base_exp = 15.0 + 12.0 * u**4
        order = np.argsort(-self._base_exp, kind="stable")
        rank = np.empty(self.n_holders)
        rank[order] = np.arange(self.n_holders)
        # activity skewed to the biggest holders: the Top-100 is active
        w = 1.0 / (rank + 20.0) ** 0.9
        self._weights = w / w.sum()

    def _rng(self, *tag) -> np.random.Generator:
        digest = hashlib.sha256(repr((self.seed,) + tag).encode()).digest()
        return np.random.default_rng(int.from_bytes(digest[:8], "little"))

    # -- holders -----------------------------------------------------------

    def holders_snapshot(self, b: int) -> pd.DataFrame:
        """Deduplicated holders snapshot of bucket ``b`` (one row per key)."""
        rng = self._rng("holders", b)
        n = self.n_holders
        drift = rng.normal(0.0, 0.05, n)
        exps = self._base_exp + drift
        mant = rng.integers(10**14, 10**15, size=n)
        raws = [str(int(m) * 10 ** max(0, int(e) - 14)) for m, e in zip(mant, exps)]
        decs = np.where(rng.random(n) < 0.9, 18, np.where(rng.random(n) < 0.5, 6, 8))
        # uint256-range whales: 60-78 digit raws (balance display overflows)
        whales = rng.choice(n, size=3, replace=False)
        for i in whales:
            raws[i] = str(int(rng.integers(1, 2**62)) * 2**190 % UINT256_MAX)
            decs[i] = 18
        raws[whales[0]] = str(UINT256_MAX)
        # exact ties in scaled balance around ranks 10, 50 and 99/100/101:
        # same raw+decimal, and a cross-decimal tie (6 vs 18 decimals)
        order = sorted(range(n), key=lambda i: (-scaled(raws[i], int(decs[i])), self.wallets[i]))
        for a, bb in ((order[9], order[10]), (order[49], order[50]),
                      (order[98], order[99]), (order[99], order[100])):
            raws[bb], decs[bb] = raws[a], decs[a]
        a, c = order[30], order[31]
        if decs[a] == 18 and len(raws[a]) > 12 and raws[a].endswith("0" * 12):
            raws[c], decs[c] = raws[a][:-12], 6
        ts = bucket_start(b)
        return pd.DataFrame(
            {
                "trigger_id": ts.strftime("%Y/%m/%d-%H:%M"),
                "bucket_start_utc": ts,
                "contract_address": TOKEN,
                "holder_address": self.wallets,
                "token_decimal": decs.astype("int32"),
                "quantity_raw": raws,
                "inserted_at": ts + dt.timedelta(minutes=5),
                "updated_at": ts + dt.timedelta(minutes=5),
            },
            columns=HOLDER_COLUMNS,
        )

    def holders_snapshot_files(self, b: int, n_files: int = 3) -> list[pd.DataFrame]:
        """The bucket's raw snapshot as the paged source delivers it: split
        over ``n_files`` files with replayed rows (older ``updated_at``,
        different quantity) that last-wins merge must discard."""
        snap = self.holders_snapshot(b)
        rng = self._rng("holders-replay", b)
        n_rep = int(len(snap) * self.replay_share)
        rep = snap.iloc[rng.choice(len(snap), size=n_rep, replace=False)].copy()
        rep["quantity_raw"] = [str(int(q) // 3 + 1) for q in rep["quantity_raw"]]
        rep["updated_at"] = rep["updated_at"] - dt.timedelta(minutes=3)
        allrows = pd.concat([snap, rep], ignore_index=True)
        part = rng.integers(0, n_files, size=len(allrows))
        return [allrows[part == i].reset_index(drop=True) for i in range(n_files)]

    def top100(self, b: int) -> list[tuple]:
        return rank_top100(self.holders_snapshot(b))

    # -- transfers ---------------------------------------------------------

    def hour_rows(self, h: int) -> pd.DataFrame:
        """The hour's unique transfers (lowercase, as stored after ingest)."""
        rng = self._rng("transfers", h)
        n = self.rows_per_hour
        wi = rng.choice(self.n_holders, size=n, p=self._weights)
        wallet = [self.wallets[i] for i in wi]
        counter = _hex(rng, n, 20)
        inbound = rng.random(n) < 0.5
        t0 = int((hour_start(h) - dt.datetime(1970, 1, 1)).total_seconds())
        secs = np.sort(rng.integers(0, HOUR, size=n))
        exps = rng.integers(15, 25, size=n)
        mant = rng.integers(10**11, 10**12, size=n)
        tidx = rng.integers(0, 300, size=n).astype(float)
        tidx[rng.random(n) < 0.02] = np.nan
        tidx[rng.integers(0, n)] = np.nan  # at least one per hour
        return pd.DataFrame(
            {
                "wallet_address": wallet,
                "contract_address": TOKEN,
                "block_number": 5_000_000 + h * 1800 + secs // 2,
                "block_time_unix": t0 + secs,
                "tx_hash": _hex(rng, n, 32),
                "nonce": rng.integers(0, 10_000, size=n),
                "from_address": np.where(inbound, counter, wallet),
                "to_address": np.where(inbound, wallet, counter),
                "value_raw": [str(int(m) * 10 ** (int(e) - 11)) for m, e in zip(mant, exps)],
                "token_symbol": TOKEN_SYMBOL,
                "token_decimal": 18,
                "transaction_index": pd.array(tidx, dtype="Int32"),
                "gas": rng.integers(21_000, 300_000, size=n),
                "gas_used": rng.integers(21_000, 200_000, size=n),
                "input": "0x",
                "ingested_at": hour_start(h + 1),
            },
            columns=RAW_COLUMNS,
        )

    def hour_pages_rows(self, h: int) -> list[dict]:
        """Rows the API returns for hour ``h``: the hour's transfers with
        mixed-case addresses plus ~5% replays (same hour, previous hour,
        and a null-index row replayed with index 0), in page order."""
        rng = self._rng("pages", h)
        cur = self.hour_rows(h)
        n_rep = int(len(cur) * self.replay_share)
        same = cur.iloc[rng.choice(len(cur), size=n_rep // 2, replace=False)]
        parts = [cur, same]
        if h > 0:
            prev = self.hour_rows(h - 1)
            parts.append(prev.iloc[rng.choice(len(prev), size=n_rep - n_rep // 2, replace=False)])
        nulls = cur[cur["transaction_index"].isna()]
        if len(nulls):
            z = nulls.iloc[:1].copy()
            z["transaction_index"] = pd.array([0], dtype="Int32")
            parts.append(z)
        rows = pd.concat(parts, ignore_index=True)
        rows = rows.iloc[rng.permutation(len(rows))].reset_index(drop=True)
        flip = rng.random(len(rows)) < 0.3
        for col in ("wallet_address", "from_address", "to_address"):
            rows[col] = [_mixed_case(a, f) for a, f in zip(rows[col], flip)]
        out = []
        for rec in rows.to_dict("records"):
            ti = rec["transaction_index"]
            rec["transaction_index"] = None if pd.isna(ti) else int(ti)
            for k in ("block_number", "block_time_unix", "nonce", "gas", "gas_used", "token_decimal"):
                rec[k] = int(rec[k])
            rec["ingested_at"] = rec["ingested_at"].to_pydatetime()
            out.append(rec)
        return out

    def page_fn(self, h: int):
        """``sources.paged`` page function serving hour ``h``'s rows."""
        rows = self.hour_pages_rows(h)

        def fetch(page: int, page_size: int) -> list[dict]:
            return rows[(page - 1) * page_size: page * page_size]

        return fetch

    def history(self, hours: range) -> pd.DataFrame:
        return pd.concat([self.hour_rows(h) for h in hours], ignore_index=True)

    def stored_tables(self, hours: range) -> tuple[pa.Table, pa.Table]:
        """(transfers, cursors) as the cron job stores them after ``hours``.
        Transfers: the raw columns plus ``block_time_utc`` and ``value_18d``,
        without the partition column ``contract_address``.  Cursors: per
        (wallet, token) stream the highest block and the row count."""
        df = self.history(hours)
        g = df.groupby("wallet_address").agg(
            last_scanned_block=("block_number", "max"), last_page=("block_number", "size"))
        cursors = pa.table({
            "stream": [f"tokentx:{w}:{TOKEN}" for w in g.index],
            "last_scanned_block": g["last_scanned_block"].astype("int64").to_numpy(),
            "last_page": g["last_page"].astype("int64").to_numpy(),
        })
        df["block_time_utc"] = pd.to_datetime(df["block_time_unix"], unit="s")
        with localcontext() as ctx:
            ctx.prec = 60
            value = pa.array([Decimal(int(v)).scaleb(-18) for v in df["value_raw"]],
                             pa.decimal128(38, 18))
        transfers = to_arrow(df.drop(columns=["contract_address"]))
        return transfers.append_column("value_18d", value), cursors


def to_arrow(df: pd.DataFrame) -> pa.Table:
    """pandas → Arrow with naive datetimes stored as UTC instants (Spark
    reads them as TIMESTAMP)."""
    tab = pa.Table.from_pandas(df, preserve_index=False)
    for j, f in enumerate(tab.schema):
        if pa.types.is_timestamp(f.type):
            col = tab.column(j).cast(pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC"))
            tab = tab.set_column(j, f.name, col)
    return tab


# ---------------------------------------------------------------------------
# Fixture-shaped tables for the operator mix (TESTDATA.md shapes)
# ---------------------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big filter query stream "
    "group customer vector"
).split()
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "shiny", "dull"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "plate"]


def fixture_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """Deterministic TPC-H-ish star schema plus events/documents/embeddings
    at ``scale`` (1.0 would be 6M lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = max(50, int(50_000 * scale)), max(100, int(50_000 * scale))
    day = np.datetime64("1995-01-01", "us")
    us_day = 86_400_000_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part),
                                             rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": day + rng.integers(0, 2405, n_ord) * us_day,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": day + rng.integers(1, 2500, n_line) * us_day,
    })
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * us_day, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(10, n_ev // 66), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_words = rng.integers(8, 100, n_doc)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in n_words]
    for i in range(0, n_doc, 97):  # a few exact duplicates for the dedup tiers
        texts[(i + 1) % n_doc] = texts[i]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_fixture(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write one parquet file per table; return row counts by file path."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tab in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        rows[os.path.abspath(path)] = tab.num_rows
    return rows
