"""Seeded DMS change-file generator and the oracle that folds it.

Everything here is plain numpy/pyarrow/pandas: the engine under test only
ever sees the parquet files this module writes.

Wire format (the one ``tests/dms_scenario.py`` uses, with the envelope
column names of the CLI defaults): the key ``id``, the source table's
payload columns, ``modification_date`` (ISO string), ``table``, ``op``
(``I``/``U``/``D``) and ``transact_seq`` (a fixed-width digit string, so
lexicographic order is commit order). A folder holds one full-load file
``LOAD00000001.parquet`` and incremental files ``cdc-<batch>.parquet``.

Oracle rule: the engine's per-batch law, applied once per landed file.
The file's events and the current state rows meet; per key, the row with
the greatest (``transact_seq``, source file) wins, and a winning ``D``
removes the key. No tombstone survives a file, so an event that lands
after a delete brings its key back even when it is older than the delete
(``tests/test_merge_on_read.py::test_mor_fold_matches_cow_exactly`` pins
this for the engine).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEQ_WIDTH = 20
#: sequence numbers of batch ``b`` live in ``[b * SEQ_SPAN, (b + 1) * SEQ_SPAN)``;
#: the upper half of every span is kept free for late events landing later
SEQ_SPAN = 10_000_000
LATE_OFFSET = SEQ_SPAN // 2
LOAD_FILE = "LOAD00000001.parquet"
_T0 = np.datetime64("2024-01-01T00:00:00", "s")

_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _orders(rng: np.random.Generator, ids: np.ndarray) -> dict:
    n = len(ids)
    days = rng.integers(0, 2400, n)
    return {
        "o_custkey": rng.integers(1, 15_000, n),
        "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": (np.datetime64("1995-01-01", "us") + days.astype("timedelta64[D]")),
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
    }


@dataclass
class ChangeMix:
    """Shape of one incremental batch. Shares are of ``rows``; the rest
    are updates. ``zipf`` > 0 draws updated/deleted keys from a Zipf law
    over the live keys (hot keys repeat inside a batch), 0 draws them
    uniformly."""

    rows: int
    insert: float = 0.10
    delete: float = 0.10
    late: float = 0.03
    duplicate: float = 0.03
    zipf: float = 0.0


@dataclass
class TableStream:
    """One orders-shaped source folder: a full load plus seeded
    incremental batches.

    Batch ``b`` depends only on ``(seed, table, b)``: it is generated
    from its own RNG stream, and the key population it draws from is the
    state the previous batches leave, which is itself seed-determined."""

    folder: str
    table: str
    seed: int
    initial_rows: int
    mix: ChangeMix
    _live: np.ndarray = field(init=False, repr=False)
    _next_id: int = field(init=False, repr=False)
    _prev: pd.DataFrame | None = field(init=False, default=None, repr=False)
    batches_written: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        self._live = np.arange(1, self.initial_rows + 1, dtype=np.int64)
        self._next_id = self.initial_rows + 1

    def _rng(self, b: int) -> np.random.Generator:
        salt = sum(self.table.encode())
        return np.random.default_rng([self.seed, salt, b])

    def _events(self, rng, ids, ops, seqs) -> pd.DataFrame:
        df = pd.DataFrame({"id": ids.astype(np.int64)})
        for k, v in _orders(rng, ids).items():
            df[k] = v
        df["modification_date"] = (_T0 + (seqs % 86_400_000).astype("timedelta64[s]")).astype(str)
        df["table"] = self.table
        df["op"] = ops
        df["transact_seq"] = [str(s).zfill(SEQ_WIDTH) for s in seqs]
        return df

    def load_frame(self) -> pd.DataFrame:
        ids = self._live
        seqs = np.arange(len(ids), dtype=np.int64)
        return self._events(self._rng(0), ids, np.full(len(ids), "I"), seqs)

    def batch_frame(self, b: int) -> pd.DataFrame:
        """Events of incremental batch ``b`` (1-based); advances the live
        key model, so batches must be drawn in order."""
        m = self.mix
        rng = self._rng(b)
        n_ins = int(m.rows * m.insert)
        n_del = int(m.rows * m.delete)
        n_late = int(m.rows * m.late)
        n_dup = int(m.rows * m.duplicate) if self._prev is not None else 0
        n_upd = m.rows - n_ins - n_del - n_late - n_dup

        live = self._live
        if m.zipf > 0:
            # rank r of a fixed per-batch permutation is hit ∝ 1/r^zipf
            ranks = (rng.zipf(m.zipf, n_upd + n_del) - 1) % len(live)
            order = rng.permutation(len(live))
            upd = live[order[ranks[:n_upd]]]
            dels = np.unique(live[order[ranks[n_upd:]]])
        else:
            upd = live[rng.integers(0, len(live), n_upd)]
            dels = rng.choice(live, size=n_del, replace=False)
        ins = np.arange(self._next_id, self._next_id + n_ins, dtype=np.int64)
        self._next_id += n_ins
        # late: events for existing keys whose seq predates the previous
        # batch — they must lose to anything landed since
        late = live[rng.integers(0, len(live), n_late)]

        ids = np.concatenate([upd, ins, dels])
        ops = np.array(["U"] * len(upd) + ["I"] * len(ins) + ["D"] * len(dels))
        perm = rng.permutation(len(ids))
        ids, ops = ids[perm], ops[perm]
        seqs = b * SEQ_SPAN + np.arange(len(ids), dtype=np.int64)
        frames = [self._events(rng, ids, ops, seqs)]
        if n_late:
            late_seqs = max(b - 2, 0) * SEQ_SPAN + LATE_OFFSET + np.arange(n_late) + b * 1000
            frames.append(self._events(rng, late, np.full(n_late, "U"), late_seqs))
        if n_dup:
            # redelivery: byte-identical copies of earlier events
            frames.append(self._prev.iloc[rng.integers(0, len(self._prev), n_dup)])
        df = pd.concat(frames, ignore_index=True)
        self._prev = frames[0]

        keep = np.setdiff1d(np.concatenate([live, ins]), dels)
        self._live = keep
        return df

    def write_load(self) -> tuple[str, int, int]:
        return self._write(self.load_frame(), LOAD_FILE)

    def write_batch(self) -> tuple[str, int, int]:
        """Write the next incremental file; returns (path, rows, bytes)."""
        self.batches_written += 1
        b = self.batches_written
        return self._write(self.batch_frame(b), batch_file(b))

    def _write(self, df: pd.DataFrame, name: str) -> tuple[str, int, int]:
        os.makedirs(self.folder, exist_ok=True)
        path = os.path.join(self.folder, name)
        tmp = os.path.join(self.folder, "." + name)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
        os.replace(tmp, path)  # the file appears whole
        return path, len(df), os.path.getsize(path)


def batch_file(b: int) -> str:
    return f"cdc-{b:06d}.parquet"


class Oracle:
    """Incremental fold of landed files into the expected mirror state,
    one file at a time (the engine merges each landed file as one batch).

    Keeps no tombstones: a key whose winning event is a ``D`` leaves the
    state, and a later file's event for it, however old, brings it back."""

    def __init__(self, key: str = "id", ts: str = "transact_seq", op: str = "op", delete_op: str = "D"):
        self.key, self.ts, self.op, self.delete_op = key, ts, op, delete_op
        self._state: pd.DataFrame | None = None

    def add(self, df: pd.DataFrame, src_file: str) -> None:
        df = df.assign(_src_file=os.path.basename(src_file))
        both = df if self._state is None else pd.concat([self._state, df], ignore_index=True)
        both = both.sort_values([self.key, self.ts, "_src_file"], kind="stable")
        both = both.drop_duplicates(self.key, keep="last")
        self._state = both[both[self.op] != self.delete_op].reset_index(drop=True)

    def add_file(self, path: str) -> None:
        self.add(pq.read_table(path).to_pandas(), path)

    def state(self) -> pd.DataFrame:
        return self._state.sort_values(self.key).reset_index(drop=True)


def fold(files: list[str], **kw) -> pd.DataFrame:
    """Expected final state of a set of change files, landed as the engine
    takes them: the full-load ``LOAD*`` files first, then in name order."""
    o = Oracle(**kw)
    for f in sorted(files, key=lambda f: (not os.path.basename(f).startswith("LOAD"), os.path.basename(f))):
        o.add_file(f)
    return o.state()


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted frame with engine-independent dtypes: timestamps as
    integer microseconds, every int as int64, ``_src_file`` as a base name."""
    out = {}
    for c in sorted(df.columns):
        s = df[c]
        if c == "_src_file":
            s = s.map(lambda p: os.path.basename(str(p)))
        elif pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(np.int64)
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype(np.int64)
        elif pd.api.types.is_float_dtype(s):
            s = s.astype(np.float64)
        else:
            s = s.astype(object)
        out[c] = s.reset_index(drop=True)
    return pd.DataFrame(out)


def checksum(df: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-independent checksum of every column)."""
    c = canonical(df)
    h = pd.util.hash_pandas_object(c, index=False).to_numpy(dtype=np.uint64)
    return len(c), int(h.sum(dtype=np.uint64))


_WORDS = np.array(
    "agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table value "
    "vector window a the delta commit bucket file log change mirror late".split()
)


def write_fixtures(out_dir: str, seed: int, orders: int) -> dict[str, str]:
    """TPC-H-shaped ``orders``/``lineitem`` and a ``documents`` corpus in
    the fixture schemas the registry queries read (``orders`` rows;
    4 line items per order; ``orders // 30`` documents). Every tenth
    document is a copy of an earlier one with at most one word changed
    (shingle Jaccard ≥ 0.9), so the near-duplicate pairs are unambiguous.
    Returns {table: path}."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_li = orders * 4
    tables = {
        "orders": {
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, max(orders // 10, 1), orders),
            "o_orderstatus": _STATUS[rng.integers(0, 3, orders)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, orders), 2),
            "o_orderdate": np.datetime64("1995-01-01", "us") + rng.integers(0, 2400, orders).astype("timedelta64[D]"),
            "o_orderpriority": _PRIORITY[rng.integers(0, 5, orders)],
        },
        "lineitem": {
            "l_orderkey": np.repeat(np.arange(orders, dtype=np.int64), 4),
            "l_partkey": rng.integers(0, 2000, n_li),
            "l_suppkey": rng.integers(0, 100, n_li),
            "l_linenumber": np.tile(np.arange(1, 5, dtype=np.int32), orders),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": np.datetime64("1995-01-02", "us") + rng.integers(0, 2500, n_li).astype("timedelta64[D]"),
        },
    }
    n_docs = max(orders // 30, 20)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 10 == 9:
            w = texts[int(rng.integers(0, i - 1))].split()
            w[int(rng.integers(0, len(w)))] = str(rng.choice(_WORDS))
        else:
            w = list(_WORDS[rng.integers(0, len(_WORDS), int(rng.integers(60, 100)))])
        texts.append(" ".join(w))
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n_docs)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    paths = {}
    for name, cols in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), paths[name])
    return paths
