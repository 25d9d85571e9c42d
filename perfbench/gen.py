"""Seeded input generators for the benchmark.

Everything the program under test reads is written here, from the
`--seed` alone: the `transactions` CDC event log (DynamoDB export
snapshot and minute-ordered JSON drops) and the
star-schema / corpus fixtures the catalog queries read. The same seed
always produces byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# transactions CDC log
# ---------------------------------------------------------------------------

#: 2023-07-22T05:06:40 UTC, the package's `workload.BASE_EPOCH`
BASE_EPOCH = 1690000000
#: snapshot size and insert spacing of the package's reference table
#: (`workload.generate_events`: 1,000 keys, 7 s apart, ~8 keys per minute
#: partition, 117 partitions)
SNAPSHOT_KEYS = 1000
INSERT_SPACING_S = 7
#: stream shape, from the measured reference pipeline at 5,000 keys (~125
#: events per minute micro-batch), in drops of at most 100 events
EVENTS_PER_MINUTE = 125
DROP_SIZE = 100
LATE_SHARE = 0.05  # of stream events: late MODIFYs that must lose
REMOVE_SHARE = 0.02
OVERLAP_S = 60  # the stream starts this long before the export instant
EXPORT_FILES = 4
TXN_FIELDS = ("account", "create_at", "update_at", "entity", "amount", "is_credit", "note")
_NOTE_WORDS = "alpha bravo charlie delta echo fox golf hotel india juliet kilo lima".split()


def iso(epoch_us: int) -> str:
    """`workload.ISO_FMT` (yyyy-MM-dd'T'HH:mm:ss.SSSSSS): string order
    is time order, which latest-wins on `update_at` relies on."""
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=epoch_us)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")


class CdcLog:
    """One seeded `transactions` history, split the way the reference
    pipeline sees it.

    - `snapshot`: table state at the export instant (`initial_load` input);
    - `drops`: minute-ordered lists of stream events that start
      OVERLAP_S before the export instant, so the stream replays events
      the snapshot already holds (the T9 handoff); after the export
      every minute carries exactly EVENTS_PER_MINUTE events, split into
      the fewest near-equal drops of at most DROP_SIZE, so drops are
      alike in size across seeds;

    Stream events follow `workload.generate_events`: ~70 % INSERTs of new
    keys, ~30 % MODIFYs that change only `note`/`update_at`, plus a seeded
    share of REMOVEs, and of late MODIFYs whose `update_at` is older than
    the stored row's (they must lose).
    """

    def __init__(self, seed: int, n_stream_minutes: int):
        rng = random.Random(seed)
        self.rows: dict[tuple[str, str], dict] = {}
        self.keys: list[tuple[str, str]] = []
        self.counts = {"INSERT": 0, "MODIFY": 0, "REMOVE": 0, "LATE": 0}
        now_us = BASE_EPOCH * 1_000_000
        log: list[tuple[int, dict]] = []  # (arrival µs, event)
        self._seq = 0

        def insert(t_us: int) -> dict:
            acct = f"{rng.randint(100, 999)}-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}"
            row = {
                "account": acct,
                "create_at": iso(t_us),
                "update_at": iso(t_us),
                "entity": f"Entity {rng.randint(0, 499)}",
                "amount": rng.randint(1, 1000),
                "is_credit": rng.randint(0, 1),
                "note": "insert v0",
            }
            key = (row["account"], row["create_at"])
            if key in self.rows:  # account collision at the same µs: re-roll
                return insert(t_us + 1)
            self.rows[key] = row
            self.keys.append(key)
            self.counts["INSERT"] += 1
            return dict(row, event_name="INSERT")

        def modify(t_us: int) -> dict:
            key = self.keys[rng.randrange(len(self.keys))]
            row = self.rows[key]
            self._seq += 1
            row = dict(row, update_at=iso(t_us), note=f"update {self._seq} {rng.choice(_NOTE_WORDS)}")
            self.rows[key] = row
            self.counts["MODIFY"] += 1
            return dict(row, event_name="MODIFY")

        def late(t_us: int) -> dict | None:
            # an update stamped between create_at and the stored update_at
            # (exclusive): older than the stored row, so it must lose
            for _ in range(8):
                key = self.keys[rng.randrange(len(self.keys))]
                row = self.rows[key]
                if row["update_at"] > row["create_at"]:
                    break
            else:
                return None
            lo = _parse_us(row["create_at"]) + 1
            hi = _parse_us(row["update_at"]) - 1
            if hi <= lo:
                return None
            self.counts["LATE"] += 1
            return dict(row, update_at=iso(rng.randint(lo, hi)), note="late, must lose", event_name="MODIFY")

        def remove(t_us: int) -> dict:
            key = self.keys[rng.randrange(len(self.keys))]
            self.counts["REMOVE"] += 1
            return dict(self.rows[key], update_at=iso(t_us), note=None, event_name="REMOVE")

        # history before the export: inserts 7 s apart, ~30 % of keys updated
        for _ in range(SNAPSHOT_KEYS):
            now_us += INSERT_SPACING_S * 1_000_000
            log.append((now_us, insert(now_us)))
            if rng.random() < 0.3 and len(self.keys) > 1:
                now_us += 1
                log.append((now_us, modify(now_us)))
        export_us = now_us
        self.snapshot = [dict(r) for r in self.rows.values()]

        # stream after the export: whole minutes, events at random instants
        minute0 = (export_us // 60_000_000 + 1) * 60_000_000
        stream_times = [
            minute0 + m * 60_000_000 + off
            for m in range(n_stream_minutes)
            for off in sorted(rng.sample(range(60_000_000), EVENTS_PER_MINUTE))
        ]
        for now_us in stream_times:
            u = rng.random()
            if u < REMOVE_SHARE:
                ev = remove(now_us)
            elif u < REMOVE_SHARE + LATE_SHARE:
                ev = late(now_us) or modify(now_us)
            elif u < 0.7:
                ev = insert(now_us)
            else:
                ev = modify(now_us)
            log.append((now_us, ev))

        stream = [(t, e) for t, e in log if t > export_us - OVERLAP_S * 1_000_000]
        self.replayed = sum(1 for t, _ in stream if t <= export_us)
        by_minute: dict[str, list[dict]] = {}
        for t, e in stream:
            by_minute.setdefault(iso(t)[:16], []).append(e)
        self.drops: list[tuple[str, list[dict]]] = []
        for minute, events in by_minute.items():
            k, n = -(-len(events) // DROP_SIZE), len(events)
            self.drops += [(minute, events[i * n // k:(i + 1) * n // k]) for i in range(k)]
        #: drops before this index hold the minutes that overlap the export
        self.first_stream_drop = next(
            i for i, (m, _) in enumerate(self.drops) if m >= iso(minute0)[:16]
        )

    def write_export(self, export_dir: str) -> None:
        """DynamoDB export data files: gz JSON lines of typed `Item`s."""
        os.makedirs(os.path.join(export_dir, "data"), exist_ok=True)
        for i in range(EXPORT_FILES):
            path = os.path.join(export_dir, "data", f"part-{i:05d}.json.gz")
            with gzip.open(path, "wt", compresslevel=1) as f:
                for row in self.snapshot[i::EXPORT_FILES]:
                    f.write(json.dumps({"Item": _typed(row)}) + "\n")

    def write_drops(self, root: str, drops: range) -> None:
        """Write `drops` under the consumer's minute layout: each to a temp
        name first, then all renamed into place back to back, so a running
        stream never lists a half-written file and (but for a rename-wide
        window) sees the chunk at once, not split over two triggers."""
        moves = []
        for i in drops:
            minute, events = self.drops[i]
            d = os.path.join(
                root, f"year={minute[0:4]}", f"month={minute[5:7]}", f"day={minute[8:10]}",
                f"hour={minute[11:13]}", f"minute={minute[14:16]}",
            )
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(root, f".drop-{i:06d}.tmp")
            with open(tmp, "w") as f:
                for e in events:
                    f.write(json.dumps(e) + "\n")
            moves.append((tmp, os.path.join(d, f"drop-{i:06d}.json")))
        for tmp, path in moves:
            os.rename(tmp, path)


def _parse_us(s: str) -> int:
    t = dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f")
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _typed(row: dict) -> dict:
    out = {}
    for k in TXN_FIELDS:
        v = row[k]
        if v is None:
            continue  # DynamoDB omits absent attributes
        out[k] = {"N": str(v)} if isinstance(v, int) else {"S": v}
    return out


# ---------------------------------------------------------------------------
# star schema + corpus fixtures (the catalog's `sf_dir` tables)
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
_PNOUN = ["bolt", "gear", "nut", "plate", "ring", "rod", "screw", "washer"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def write_fixtures(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables (schemas of FIXTURES.md) at scale
    factor `sf`; returns row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_ev, n_doc = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    n_emb = max(int(20_000 * sf), 500)
    day0 = np.datetime64("1995-01-01", "us")
    tables: dict[str, pa.Table] = {}

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(np.array(_PADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(_PNOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    odate = day0 + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D")
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIOS)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            np.repeat(odate, lines) + rng.integers(1, 122, n_li) * np.timedelta64(1, "D"),
            pa.timestamp("us"),
        ),
    })
    ts0 = np.datetime64("2024-01-01", "us")
    ev_ts = np.sort(ts0 + rng.integers(0, 30 * 86_400_000_000, n_ev) * np.timedelta64(1, "us"))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    vocab = np.array(_VOCAB)
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: what dedup must find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
