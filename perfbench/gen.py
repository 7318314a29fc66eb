"""Deterministic input generators for the replication benchmark.

Everything here is a pure function of the seed and the size arguments:
the same seed gives byte-identical Avro blobs, the same star-schema
tables and the same expected replicated state.

CDC traffic (`CdcTraffic`): Datastream-style change blobs written with
`avro_ocf.write_ocf`, one Oracle table `APP.ORDERS` with primary key
`ID`. A backfill dump inserts keys 0..rows-1; each CDC event after that
is an UPDATE, INSERT or DELETE (the mix is a parameter), UPDATE/DELETE
keys follow a bounded Zipf distribution over the live key space, and a
share of events arrives late, carrying an older SCN than events already
emitted. The generator keeps the expected latest event per key (the
event with the largest (scn, ssn) sort key), which is what the
replicated table must equal after every cycle.

Query inputs (`write_star_schema`): the ten tables the operator
registries read (TPC-H-like star schema plus events, documents and
embeddings), at a small scale factor, in the column types the engine's
loaders expect.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

ENVELOPE = {
    "type": "record", "name": "ORDERS", "fields": [
        {"name": "uuid", "type": "string"},
        {"name": "read_timestamp",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "source_timestamp",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "object", "type": "string"},
        {"name": "read_method", "type": "string"},
        {"name": "stream_name", "type": "string"},
        {"name": "schema_key", "type": "string"},
        {"name": "source_metadata", "type": {
            "type": "record", "name": "source_metadata", "fields": [
                {"name": "schema", "type": "string"},
                {"name": "table", "type": "string"},
                {"name": "database", "type": "string"},
                {"name": "row_id", "type": ["null", "string"]},
                {"name": "scn", "type": ["null", "long"]},
                {"name": "is_deleted", "type": ["null", "boolean"]},
                {"name": "change_type", "type": ["null", "string"]},
                {"name": "ssn", "type": ["null", "long"]},
                {"name": "rs_id", "type": ["null", "string"]},
                {"name": "tx_id", "type": ["null", "string"]},
                {"name": "log_file", "type": ["null", "string"]}]}},
        {"name": "payload", "type": {
            "type": "record", "name": "payload", "fields": [
                {"name": "ID", "type": ["null", "long"]},
                {"name": "NAME", "type": ["null", "string"]},
                {"name": "TS", "type": ["null", {
                    "type": "long", "logicalType": "timestamp-micros"}]},
                {"name": "AMOUNT", "type": ["null", "double"]},
                {"name": "QTY", "type": ["null", "long"]}]}},
        {"name": "sort_keys",
         "type": {"type": "array", "items": ["string", "long"]}},
    ],
}

SNAP, CDC = "oracle-backfill", "oracle-cdc-logminer"
OPS = ("UPDATE", "INSERT", "DELETE")

#: CDC traffic shape: (update, insert, delete) shares, the Zipf exponent
#: of UPDATE/DELETE keys over the live keys, the share of late events
#: and how far back (in events) a late event's SCN may lie
MIX = (0.70, 0.15, 0.15)
ZIPF_S = 1.1
LATE_FRAC = 0.05
LATE_SPAN = 8000


@dataclass
class Batch:
    """One phase's change events as column arrays (not yet encoded)."""
    method: str
    ops: np.ndarray      # index into OPS (ignored for snapshot rows)
    keys: np.ndarray
    scn: np.ndarray
    ssn: np.ndarray
    name: np.ndarray
    amount: np.ndarray
    qty: np.ndarray

    def __len__(self) -> int:
        return len(self.keys)

    @property
    def probe_scn(self) -> int:
        """SCN of the batch's newest event. It is never late and newer
        than every earlier event, so it wins for its key: once a row
        with this SCN is visible, the whole batch has been applied."""
        return int(self.scn[-1])

    def changed_keys(self) -> int:
        return len(np.unique(self.keys))

    def slices(self, per_blob: int) -> list[tuple]:
        """Picklable per-blob argument tuples for `encode_blob`."""
        return [(self.method, self.ops[i:i + per_blob],
                 self.keys[i:i + per_blob], self.scn[i:i + per_blob],
                 self.ssn[i:i + per_blob], self.name[i:i + per_blob],
                 self.amount[i:i + per_blob], self.qty[i:i + per_blob])
                for i in range(0, len(self), per_blob)]


def encode_blob(args: tuple) -> bytes:
    """One Datastream Avro object-container file (deflate codec)."""
    from datastream_delta_plugins_spark.sources import avro_ocf
    method, ops, keys, scn, ssn, name, amount, qty = args
    recs = []
    for i in range(len(keys)):
        s = int(scn[i])
        ts = T0_MS + s
        op = None if method == SNAP else OPS[ops[i]]
        recs.append({
            "uuid": f"{int(ssn[i]):012d}",
            "read_timestamp": ts + 5, "source_timestamp": ts,
            "object": "APP_ORDERS", "read_method": method,
            "stream_name": "bench", "schema_key": "k1",
            "source_metadata": {
                "schema": "APP", "table": "ORDERS", "database": "ORCL",
                "row_id": f"R{int(keys[i])}", "scn": s,
                "is_deleted": op == "DELETE", "change_type": op,
                "ssn": int(ssn[i]), "rs_id": "rs0",
                "tx_id": None if op is None else f"tx{s // 64}",
                "log_file": None},
            "payload": {"ID": int(keys[i]), "NAME": f"cust-{int(name[i])}",
                        "TS": ts * 1000, "AMOUNT": float(amount[i]),
                        "QTY": int(qty[i])},
            "sort_keys": [ts, s, "rs0", int(ssn[i])],
        })
    return avro_ocf.write_ocf(ENVELOPE, recs, codec="deflate")


def blob_path(phase: int, method: str, tag: str, i: int) -> str:
    """Datastream object layout: yyyy/mm/dd/HH/MM/{key}_{method}_..._{seq}
    with one synthetic minute per phase."""
    day, rest = divmod(phase, 1440)
    return (f"2024/01/{1 + day:02d}/{rest // 60:02d}/{rest % 60:02d}/"
            f"k1_{method}_{tag}_{i:04d}.avro")


class CdcTraffic:
    """Stateful generator of one table's change traffic (`rows`: the
    backfill size; the shape is `MIX`, `ZIPF_S`, `LATE_FRAC`).

    A late event carries an older SCN, up to `LATE_SPAN` events back, so
    it can lose against a newer event of the same key that already
    landed in an earlier blob. Sort keys are (source_timestamp, scn,
    rs_id, ssn): on-time events take even SCNs, late ones odd SCNs, and
    the unique ssn breaks any SCN tie.
    """

    def __init__(self, seed: int, rows: int):
        self.rng = np.random.default_rng(seed)
        self.rows = rows
        # expected latest event per key; scn -1 = key never seen
        self.scn = np.full(rows, -1, dtype=np.int64)
        self.ssn = np.full(rows, -1, dtype=np.int64)
        self.name = np.zeros(rows, dtype=np.int64)
        self.amount = np.zeros(rows, dtype=np.float64)
        self.qty = np.zeros(rows, dtype=np.int64)
        self.deleted = np.zeros(rows, dtype=bool)
        self.n_keys = 0
        self.next_scn = 2
        self.next_ssn = 0
        # rank -> key: hot keys are spread over the key space instead of
        # clustering at the low ids the backfill wrote first
        self._perm = self.rng.permutation(rows)
        #: the Zipf rank-1 key, the one updated most often
        self.hot_key = int(self._perm[0])

    def _payload(self, n: int):
        return (self.rng.integers(0, 1_000_000, n),
                np.round(self.rng.uniform(0, 10_000, n), 2),
                self.rng.integers(0, 500, n))

    def _zipf_keys(self, n: int) -> np.ndarray:
        live = self.n_keys
        ranks = np.arange(1, live + 1, dtype=np.float64)
        w = ranks ** -ZIPF_S
        cdf = np.cumsum(w)
        r = np.minimum(np.searchsorted(cdf, self.rng.uniform(0, cdf[-1], n)),
                       live - 1)
        # backfill keys take the hot ranks through the permutation;
        # keys inserted later take the coldest ranks
        return np.where(r < self.rows,
                        self._perm[np.minimum(r, self.rows - 1)], r)

    def _reserve(self, n_keys: int) -> None:
        """Grow the expected-state arrays to hold keys 0..n_keys-1."""
        cap = len(self.scn)
        if n_keys <= cap:
            return
        extra = max(n_keys, 2 * cap) - cap
        for attr, fill in (("scn", -1), ("ssn", -1), ("name", 0),
                           ("amount", 0), ("qty", 0), ("deleted", False)):
            a = getattr(self, attr)
            setattr(self, attr,
                    np.concatenate([a, np.full(extra, fill, a.dtype)]))

    def _apply(self, b: Batch) -> None:
        """Fold a batch into the expected state: per key, the event
        with the largest (scn, ssn) wins."""
        order = np.lexsort((b.ssn, b.scn, b.keys))
        k = b.keys[order]
        idx = order[np.r_[k[1:] != k[:-1], True]]
        k = b.keys[idx]
        newer = (b.scn[idx] > self.scn[k]) | (
            (b.scn[idx] == self.scn[k]) & (b.ssn[idx] > self.ssn[k]))
        idx, k = idx[newer], k[newer]
        self.scn[k] = b.scn[idx]
        self.ssn[k] = b.ssn[idx]
        self.name[k] = b.name[idx]
        self.amount[k] = b.amount[idx]
        self.qty[k] = b.qty[idx]
        self.deleted[k] = (b.ops[idx] == 2) & (b.method == CDC)

    def _ids(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        scn = self.next_scn + 2 * np.arange(n, dtype=np.int64)
        ssn = self.next_ssn + np.arange(n, dtype=np.int64)
        self.next_scn += 2 * n
        self.next_ssn += n
        return scn, ssn

    def backfill(self) -> Batch:
        """Snapshot rows inserting keys 0..rows-1."""
        n = self.rows
        scn, ssn = self._ids(n)
        b = Batch(SNAP, np.ones(n, dtype=np.int64),
                  np.arange(n, dtype=np.int64), scn, ssn, *self._payload(n))
        self.n_keys = n
        self._apply(b)
        return b

    def cdc(self, n: int) -> Batch:
        """`n` CDC events drawn from the configured mix."""
        ops = self.rng.choice(3, size=n, p=MIX)
        ins = ops == 1
        n_ins = int(ins.sum())
        self._reserve(self.n_keys + n_ins)
        keys = np.empty(n, dtype=np.int64)
        keys[~ins] = self._zipf_keys(n - n_ins)
        keys[ins] = np.arange(self.n_keys, self.n_keys + n_ins)
        self.n_keys += n_ins
        scn, ssn = self._ids(n)
        late = self.rng.uniform(size=n) < LATE_FRAC
        late[-1] = False  # the newest event is the batch's probe
        lag = self.rng.integers(1, LATE_SPAN + 1, size=n)
        scn = np.where(late, np.maximum(scn - 2 * lag - 1, 1), scn)
        b = Batch(CDC, ops, keys, scn, ssn, *self._payload(n))
        self._apply(b)
        return b

    def expected(self) -> dict[str, np.ndarray]:
        """Expected replicated table, ordered by key: every key ever
        seen, with the payload of its latest event and its soft-delete
        flag."""
        k = np.nonzero(self.scn >= 0)[0]
        return {"ID": k, "NAME": self.name[k], "AMOUNT": self.amount[k],
                "QTY": self.qty[k], "SCN": self.scn[k],
                "_is_deleted": self.deleted[k]}

    def row(self, key: int) -> tuple:
        """Expected (NAME, AMOUNT, QTY, _is_deleted) of one key."""
        return (f"cust-{int(self.name[key])}", float(self.amount[key]),
                int(self.qty[key]), bool(self.deleted[key]))

    def live_rows(self) -> int:
        return int(((self.scn >= 0) & ~self.deleted).sum())


class CdcFeed:
    """One run's CDC traffic, handed out phase by phase: the backfill
    and the catch-up backlog up front, then one steady cycle per
    `cycle()` call, for as many cycles as the run makes.

    `traffic` is stepped exactly as far as the phases handed out, so its
    expected state (`row`, `live_rows`, `expected`) is always the state
    after the last of them. Encoded blobs are cached per phase under
    `cache_dir` (which must be specific to the seed and sizes); time
    spent generating or reading them accumulates in `gen_s`.
    """

    def __init__(self, seed: int, sizes, cycle_blobs: int, cache_dir: str):
        t0 = time.perf_counter()
        self.sz = sizes
        self.cycle_events = cycle_blobs * sizes.cycle_blob
        self.cache_dir = cache_dir
        self.traffic = t = CdcTraffic(seed, sizes.rows)
        self.backfill = t.backfill()
        self.backlog = t.cdc(sizes.backlog)
        #: expected live rows once backfill and backlog are replicated
        self.catchup_live = t.live_rows()
        self.backfill_files = self._blobs(0, self.backfill,
                                          sizes.backfill_blob, "backfill")
        self.backlog_files = self._blobs(1, self.backlog,
                                         sizes.backfill_blob, "backlog")
        self.cycles = 0
        self.gen_s = time.perf_counter() - t0

    def cycle(self) -> tuple[Batch, list]:
        """The next steady cycle: its events and its blobs."""
        t0 = time.perf_counter()
        b = self.traffic.cdc(self.cycle_events)
        files = self._blobs(2 + self.cycles, b, self.sz.cycle_blob,
                            f"c{self.cycles:04d}")
        self.cycles += 1
        self.gen_s += time.perf_counter() - t0
        return b, files

    def _blobs(self, phase: int, b: Batch, per_blob: int,
               tag: str) -> list[tuple[str, bytes]]:
        """[(Datastream relpath, blob bytes)] of one phase, encoded on
        first use and read back from the cache after that."""
        d = os.path.join(self.cache_dir, str(phase))
        if not os.path.isdir(d):
            tmp = d + ".tmp"  # renamed into place once complete
            shutil.rmtree(tmp, ignore_errors=True)
            for i, args in enumerate(b.slices(per_blob)):
                path = os.path.join(tmp, blob_path(phase, b.method, tag, i))
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as f:
                    f.write(encode_blob(args))
            os.rename(tmp, d)
        files = []
        for dp, _dn, fn in os.walk(d):
            for name in fn:
                path = os.path.join(dp, name)
                with open(path, "rb") as f:
                    files.append((os.path.relpath(path, d), f.read()))
        return sorted(files)


# ------------------------------------------------------------ star schema

def write_star_schema(out_dir: str, seed: int, sf: float) -> None:
    """The ten query-input tables at scale factor `sf` (lineitem has
    ~6M*sf rows), one parquet file each, deterministic in `seed`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir,
                                                    f"{name}.parquet"))

    def ts_us(base_days, n, span_days):
        day = rng.integers(0, span_days, n) + base_days
        return pa.array((day * 86_400_000_000).astype("int64"),
                        pa.timestamp("us"))

    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_vec = max(100, int(20_000 * sf))
    d1998 = 10_227  # days 1970-01-01 -> 1998-01-01

    save("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], n_cust).tolist()})
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    adj = ["small", "large", "shiny", "matte", "polished"]
    noun = ["ring", "bolt", "gear", "plate", "valve", "screw"]
    save("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 5, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 6, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"],
                             n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 2000, n_part)
                                  * 0.5, 2)})
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 400_000, n_ord), 2),
        "o_orderdate": ts_us(d1998 - 2000, n_ord, 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord).tolist()})
    okey = np.sort(rng.integers(0, n_ord, n_li))
    lnum = np.ones(n_li, dtype=np.int32)
    same = np.r_[False, okey[1:] == okey[:-1]]
    for i in np.nonzero(same)[0]:  # line numbers within each order
        lnum[i] = lnum[i - 1] + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    save("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": ts_us(d1998 - 2000, n_li, 2500)})
    base_us = T0_MS * 1000
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(base_us + rng.integers(
            0, 30 * 86_400_000_000, n_ev)), pa.timestamp("us")),
        "user_id": rng.integers(0, max(50, n_ev // 100), n_ev),
        "event_type": rng.choice(
            ["click", "view", "purchase", "error", "login"], n_ev).tolist(),
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = ("a the key agg row scan slow fast table value part hash "
             "merge batch spark line sort window join query filter group "
             "order vector data stream column big small customer").split()
    texts = []
    for i in range(n_doc):
        if i % 10 == 9:  # near-duplicates for the dedup operators
            texts.append(texts[i - 5])
            continue
        words = rng.choice(vocab, int(rng.integers(20, 80)))
        texts.append(" ".join(words.tolist()))
    save("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_doc).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 5, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0, 0.2, (n_vec, 64)).astype(np.float32)
    save("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, n_vec), pa.int32())})
