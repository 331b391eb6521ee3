"""Seeded inputs for the medallion benchmark, and the results each
workload must produce, computed in plain Python.

Everything here is a pure function of the seed: the same seed writes
byte-identical files and returns identical expectations. The bronze
sources mirror the encoding quirks of the four reference ingest paths
(FIXTURES.md section B):

- Mailgun: double-encoded NDJSON under ``partition=N/``, a top-level
  ``size`` colliding with ``message.size``, hyphenated and nested
  names, and per-file schema drift (some files lack ``campaigns`` and
  ``flags``).
- Iterable: NDJSON with ~5% null ``userId``, ISO timestamps with a
  zone offset, ``profileUpdatedAt`` present in only some files.
- Mongo export: Parquet whose ``_doc`` column is a JSON document that
  itself holds a JSON string (``notificationData``), ``$date`` names.
- Kafka: envelope dumps (topic/partition/offset/key/value) where ~30%
  of (application, status) keys repeat 2-4 times with distinct
  timestamps, plus exact-timestamp ties that only the offset orders.

The lake tables for ``lake_queries`` copy the schemas and value shapes
of the TPC-H-ish tables of FIXTURES.md section A at a scale of
0.01: a customer per 10 orders, four lines per order, a 31-word
vocabulary with 5% near-duplicate documents, unit-norm 64-d
embeddings in ten loose clusters.

Sizes, and why. A run pays ~35-45 s of cold start (JVM launch, first
execution of every code path) before its first measured op, so the
inputs are sized for a measured round of 6-10 s on 4 cores, which keeps
a whole run near a minute:

- ``BRONZE_ROWS`` rows per source per daily drop: a drop's import,
  append and read-back take 0.7-1.5 s, mostly Spark job overhead, so
  larger drops would mostly lengthen the run, not change what it
  measures.
- ``SILVER_BASE_APPS`` applications in the base silver table (about
  1.7 kept statuses each): the merge rewrites the whole target, so the
  base size, not the drop size, sets the merge cost.
- ``SILVER_DROP_EVENTS`` events per delta drop: a small daily delta
  next to the base, as the read-modify-write case needs.
- lake scale 0.01 (60k lineitem rows, 500 documents): each mix query
  runs in 0.4-2.5 s warm, the oracle check of all of them in ~2 s.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BRONZE_ROWS = 1600
BRONZE_DAYS = 4  # day 0 warms up; a run lands the next few
SILVER_BASE_APPS = 8000
SILVER_DROP_EVENTS = 400
SILVER_DROPS = 4
LAKE_SCALE = 0.01

RELEVANT_TAGS = [
    "example.notification.payment.OnSchedule",
    "example.notification.PaidOff",
    "example.notification.Agreement.TAB",
]
OTHER_TAGS = ["marketing.weekly", "ops.digest", "misc"]
RELEVANT_TYPES = ["PURCHASE_CONFIRMATION", "PAYMENT_REMINDER", "AGREEMENT_TAB"]
OTHER_TYPES = ["LOGIN_ALERT", "NEWSLETTER"]
STATUSES = ["INITIAL", "DEPRECATED", "STARTED", "COMPLETED", "APPROVED", "DECLINED"]
EXCLUDED_STATUSES = ("INITIAL", "DEPRECATED")
MILESTONES = {
    "STARTED": "start",
    "COMPLETED": "completion",
    "APPROVED": "approval",
}

DAY0_S = 1640995200  # 2022-01-01T00:00:00Z


def _write_lines(path: str, lines: list[str]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


# --------------------------------------------------------------- bronze


def mailgun_drop(rng: random.Random, root: str, day: int) -> tuple[int, set[str]]:
    """One day of Mailgun delivered events across 5 ``partition=N``
    directories (2 files each). Returns (bytes written, recipients that
    survive the tag filter)."""
    n_bytes, keep = 0, set()
    per_file = BRONZE_ROWS // 10
    drift_files = set(rng.sample(range(10), k=2))  # 20% of files drift
    for f in range(10):
        p = f % 5
        lines = []
        for i in range(per_file):
            n = (day * 10 + f) * per_file + i
            tags = rng.sample(RELEVANT_TAGS + OTHER_TAGS, k=rng.randint(0, 3))
            recipient = f"user{n}@example.com"
            ev = {
                "timestamp": DAY0_S + day * 86400 + i * 37.5 + f,
                "event": "delivered",
                "recipient": recipient,
                "tags": tags,
                "size": 100 + n % 900,
                "delivery-status": {
                    "code": 250,
                    "message": "OK",
                    "attempt-no": rng.randint(1, 3),
                },
                "message": {
                    "headers": {
                        "to": recipient,
                        "message-id": f"<{n}@mg>",
                        "subject": f"notice {n % 97}",
                    },
                    "size": 1000 + n % 5000,
                },
                "storage": {} if rng.random() < 0.3 else {"url": f"s3://x/{n}"},
                "envelope": {"sender": "mg@example.com"},
                "user_variables": {"segment": f"s{n % 7}"},
                "attachments": [],
            }
            if f not in drift_files:
                ev["campaigns"] = []
                ev["flags"] = {"is-test-mode": False}
            if set(tags) & set(RELEVANT_TAGS):
                keep.add(recipient)
            lines.append(json.dumps(json.dumps(ev)))
        path = os.path.join(root, f"partition={p}", f"mailgun_{day}_{f}.json")
        n_bytes += _write_lines(path, lines)
    return n_bytes, keep


def iterable_drop(rng: random.Random, root: str, day: int) -> tuple[int, int, int]:
    """One day of Iterable events in 5 files. Returns (bytes, rows with
    a non-null user id — the rows that survive the filter — and the sum
    of those ids)."""
    n_bytes, id_sum, n_keep = 0, 0, 0
    per_file = BRONZE_ROWS // 5
    profile_files = set(rng.sample(range(5), k=3))  # ~60% carry the field
    for f in range(5):
        lines = []
        for i in range(per_file):
            n = (day * 5 + f) * per_file + i
            uid = None if rng.random() < 0.05 else 1000 + n
            hh, mm = divmod(i % 1440, 60)
            ev = {
                "userId": None if uid is None else str(uid),
                "createdAt": f"2022-01-{day % 28 + 1:02d}T{hh:02d}:{mm:02d}:00+02:00",
                "eventName": rng.choice(["emailSend", "emailOpen", "emailClick"]),
                "dataFields": {
                    "email": f"u{n}@example.com",
                    "campaignId": rng.randint(1, 9),
                    "templateId": rng.randint(100, 105),
                },
                "labels": [],
                "messageTypeIds": [rng.randint(1, 5)],
                "transactionalData": None,
            }
            if f in profile_files:
                ev["profileUpdatedAt"] = "2022-01-01T00:00:00+00:00"
            if uid is not None:
                id_sum += uid
                n_keep += 1
            lines.append(json.dumps(ev))
        path = os.path.join(root, f"partition={f + 3}", f"events_{day}_{f}.json")
        n_bytes += _write_lines(path, lines)
    return n_bytes, n_keep, id_sum


def mongo_drop(rng: random.Random, root: str, day: int) -> tuple[int, set[str]]:
    """One day of Mongo-export notifications in 4 Parquet files.
    Returns (bytes, ``_id`` values of relevant notification types)."""
    n_bytes, keep = 0, set()
    per_file = BRONZE_ROWS // 4
    for f in range(4):
        ids, docs = [], []
        for i in range(per_file):
            n = (day * 4 + f) * per_file + i
            relevant = rng.random() < 0.4
            ntype = rng.choice(RELEVANT_TYPES if relevant else OTHER_TYPES)
            doc = {
                "notificationData": json.dumps(
                    {"notificationType": ntype, "channel": "EMAIL"}
                ),
                "localDateTime": {"$date": (DAY0_S + day * 86400) * 1000 + i * 60000},
                "recipient": {"userId": 5000 + n, "channel": "EMAIL"},
                "notificationPartList": [{"part": 1}, {"part": 2}],
                "creationDate": f"2022-01-{day % 28 + 1:02d}T08:00:00Z",
            }
            oid = f"oid{n}"
            ids.append(oid)
            docs.append(json.dumps(doc))
            if relevant:
                keep.add(oid)
        os.makedirs(root, exist_ok=True)
        path = os.path.join(root, f"202201{day % 28 + 1:02d}_{f}.parquet")
        pq.write_table(pa.table({"_id": ids, "_doc": docs}), path)
        n_bytes += os.path.getsize(path)
    return n_bytes, keep


def _kafka_line(offset: int, app: int, status: str, ts: int, cust: int,
                lead: int | None, rev: int) -> str:
    return json.dumps(
        {
            "topic": "card.applications",
            "partition": app % 3,
            "offset": offset,
            "key": str(app),
            "value": {
                "cardApplicationId": app,
                "applicationStatus": status,
                "timestamp": ts,
                "customerId": cust,
                "leadId": lead,
                "payload_rev": rev,
            },
        }
    )


def kafka_events(rng: random.Random, apps: range, offset0: int, ts0: int) -> list[tuple]:
    """Application-status timelines for ``apps``: 1-4 statuses each,
    ~30% of (app, status) keys repeated 2-4 times with timestamps 777 ms
    apart. The first duplicated key repeats at the SAME timestamp, so
    only the offset orders it. Returns event tuples
    (offset, app, status, ts, customer, lead, rev) in offset order."""
    out, offset, tied = [], offset0, False
    for app in apps:
        base = ts0 + app * 10_000
        for si, status in enumerate(rng.sample(STATUSES, k=rng.randint(1, 4))):
            dups = rng.randint(2, 4) if rng.random() < 0.3 else 1
            for d in range(dups):
                tie = not tied and dups > 1 and d == 1
                ts = base + si * 4000 + (0 if tie else d * 777)
                if tie:
                    tied = True
                lead = None if rng.random() < 0.3 else app * 2 + d
                out.append((offset, app, status, ts, 7000 + app % 500, lead, d))
                offset += 1
    return out


def kafka_expected_rows(events: list[tuple]) -> dict[tuple, tuple]:
    """Latest-wins per (app, status) with the offset breaking exact
    timestamp ties, excluded statuses dropped — the reference's
    ``sort_values('timestamp') + drop_duplicates(keep='last')``."""
    best: dict[tuple, tuple] = {}
    for ev in events:
        k = (ev[1], ev[2])
        if k not in best or (ev[3], ev[0]) > (best[k][3], best[k][0]):
            best[k] = ev
    return {k: v for k, v in best.items() if k[1] not in EXCLUDED_STATUSES}


def write_kafka(path: str, events: list[tuple]) -> int:
    return _write_lines(path, [_kafka_line(*ev) for ev in events])


def bronze_inputs(seed: int, root: str) -> list[dict]:
    """All daily drops for ``bronze_ingest``: one dict per (day,
    source), in landing order, with its path, bronze bytes and the
    silver rows it must add."""
    drops = []
    app_next = 0
    for day in range(BRONZE_DAYS):
        rng = random.Random(seed * 1_000_003 + day)
        d = os.path.join(root, "mailgun.delivered", f"day={day}")
        b, keep = mailgun_drop(rng, d, day)
        drops.append({"source": "mailgun", "day": day, "path": d, "bytes": b,
                      "rows": len(keep), "keys": keep})
        d = os.path.join(root, "iterable.events", f"day={day}")
        b, n, id_sum = iterable_drop(rng, d, day)
        drops.append({"source": "iterable", "day": day, "path": d, "bytes": b,
                      "rows": n, "keys": id_sum})
        d = os.path.join(root, "mongo_notifications", f"day={day}")
        b, keep = mongo_drop(rng, d, day)
        drops.append({"source": "mongo", "day": day, "path": d, "bytes": b,
                      "rows": len(keep), "keys": keep})
        n_apps = BRONZE_ROWS // 4  # ~4 envelope lines per application
        evs = kafka_events(rng, range(app_next, app_next + n_apps),
                           offset0=app_next * 16, ts0=DAY0_S * 1000 + day * 86_400_000)
        app_next += n_apps
        p = os.path.join(root, "card_topics", f"day={day}", "card.applications.json")
        b = write_kafka(p, evs)
        exp = kafka_expected_rows(evs)
        drops.append({"source": "kafka", "day": day, "path": p, "bytes": b,
                      "rows": len(exp), "keys": {k: v[6] for k, v in exp.items()}})
    return drops


# --------------------------------------------------------------- silver


def silver_inputs(seed: int, root: str) -> dict:
    """The base application dump for the silver/gold tables and
    ``SILVER_DROPS`` delta drops. Each delta
    mixes updates to existing (app, status) keys (newer timestamps, or
    the SAME timestamp as the row they replace), new statuses for
    existing apps and brand-new apps, with within-drop duplicates."""
    rng = random.Random(seed)
    ts0 = DAY0_S * 1000
    base = kafka_events(rng, range(SILVER_BASE_APPS), 0, ts0)
    base_path = os.path.join(root, "base", "card.applications.json")
    write_kafka(base_path, base)

    # current (app, status) -> timestamp, to aim updates and ties
    latest: dict[tuple, int] = {}
    for ev in base:
        k = (ev[1], ev[2])
        latest[k] = max(latest.get(k, ev[3]), ev[3])
    app_statuses: dict[int, set] = {}
    for app, st in latest:
        app_statuses.setdefault(app, set()).add(st)
    offset = len(base) + 1
    next_app = SILVER_BASE_APPS
    drops = []
    for day in range(1, SILVER_DROPS + 1):
        # every event of a drop sits in its own 10 s slot per app, so an
        # app's different statuses never share a timestamp inside a drop
        # (the gold refresh orders an app's statuses by timestamp only)
        day_ts = ts0 + day * 86_400_000
        evs: list[tuple] = []
        used_ts: dict[int, set] = {}

        def emit(app, status, ts, rev):
            nonlocal offset
            lead = None if rng.random() < 0.3 else app * 3 + rev
            evs.append((offset, app, status, ts, 7000 + app % 500, lead, rev))
            offset += 1
            used_ts.setdefault(app, set()).add(ts)

        while len(evs) < SILVER_DROP_EVENTS:
            r = rng.random()
            if r < 0.5:  # update an existing key
                app = rng.randrange(next_app)
                sts = app_statuses.get(app)
                if not sts:
                    continue
                status = rng.choice(sorted(sts))
                old = latest[(app, status)]
                # 10% tie the row being replaced; the rest move forward
                ts = old if rng.random() < 0.1 else day_ts + rng.randrange(1000) * 60_000
            elif r < 0.8:  # new status for an existing app
                app = rng.randrange(next_app)
                status = rng.choice(STATUSES)
                ts = day_ts + rng.randrange(1000) * 60_000
            else:  # brand-new application
                app = next_app
                next_app += 1
                status = rng.choice(STATUSES[2:])
                ts = day_ts + rng.randrange(1000) * 60_000
            if ts in used_ts.get(app, set()):
                continue
            emit(app, status, ts, day * 10)
            if rng.random() < 0.1:  # within-drop duplicate: exact tie
                emit(app, status, ts, day * 10 + 1)
            k = (app, status)
            latest[k] = max(latest.get(k, ts), ts)
            app_statuses.setdefault(app, set()).add(status)
        p = os.path.join(root, "drops", f"day={day}", "card.applications.json")
        b = write_kafka(p, evs)
        drops.append({"day": day, "path": p, "bytes": b, "events": evs})
    return {
        "base_path": base_path,
        "base_events": base,
        "drops": drops,
    }


def silver_candidates(base: list[tuple], batches: list[list[tuple]]) -> dict:
    """Per (app, status): the rows a latest-wins upsert by timestamp
    alone may legitimately hold after ``batches`` are merged into the
    base (base resolved with the offset tiebreak, as the batch import
    does). A key maps to every row tied at its maximum timestamp."""
    cand = {k: [v] for k, v in kafka_expected_rows(base).items()}
    for batch in batches:
        incoming: dict[tuple, list] = {}
        for ev in batch:
            if ev[2] in EXCLUDED_STATUSES:
                continue
            incoming.setdefault((ev[1], ev[2]), []).append(ev)
        for k, rows in incoming.items():
            pool = cand.get(k, []) + rows
            m = max(r[3] for r in pool)
            cand[k] = [r for r in pool if r[3] == m]
    return cand


def gold_expected(batches: list[list[tuple]]) -> dict[int, dict]:
    """Gold applications state after one incremental refresh per
    batch (the base first): per batch the import
    keeps the latest row per (app, status) (offset tiebreak, excluded
    statuses dropped); the batch's newest row per app sets status (and
    customer/lead when not null); milestone dates keep the earliest
    ever seen."""
    state: dict[int, dict] = {}
    for batch in batches:
        per_app: dict[int, list] = {}
        for ev in kafka_expected_rows(batch).values():
            per_app.setdefault(ev[1], []).append(ev)
        for app, rows in per_app.items():
            newest = max(rows, key=lambda r: r[3])
            cur = state.setdefault(
                app,
                {"status": None, "customer": None, "lead": None,
                 "start": None, "completion": None, "approval": None},
            )
            cur["status"] = newest[2]
            if newest[4] is not None:
                cur["customer"] = newest[4]
            if newest[5] is not None:
                cur["lead"] = newest[5]
            for r in rows:
                field = MILESTONES.get(r[2])
                if field and (cur[field] is None or r[3] < cur[field]):
                    cur[field] = r[3]
    return state


# ----------------------------------------------------------------- lake

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def lake_tables(seed: int, root: str) -> str:
    """Write the ten lake tables (one Parquet file each) under ``root``
    and return it — the names, schemas and value shapes of FIXTURES.md
    section A, generated from ``seed``."""
    rs = np.random.default_rng(seed)
    s = LAKE_SCALE
    n_cust, n_supp, n_part = int(150_000 * s), int(10_000 * s), int(200_000 * s)
    n_ord, n_li, n_ev = int(1_500_000 * s), int(6_000_000 * s), int(1_000_000 * s)
    n_doc, n_emb = int(50_000 * s), int(50_000 * s)
    os.makedirs(root, exist_ok=True)

    def put(name: str, cols: dict, schema: pa.Schema) -> None:
        pq.write_table(
            pa.table(cols, schema=schema), os.path.join(root, f"{name}.parquet")
        )

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rs.uniform(lo, hi, n), 2)

    def days(start: datetime, n_days: int, n: int) -> np.ndarray:
        base = np.datetime64(start.replace(tzinfo=None), "us")
        return base + rs.integers(0, n_days, n) * np.timedelta64(1, "D")

    put("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    put("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]))
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    put("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rs.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": segs[rs.integers(0, 5, n_cust)]},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))
    put("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rs.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    adj = ["large", "hot", "blue", "small", "red", "cold", "green", "shiny"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "spring"]
    types = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
    put("part", {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                            zip(rs.integers(0, 8, n_part), rs.integers(0, 8, n_part))],
                 "p_brand": [f"Brand#{b}" for b in rs.integers(1, 26, n_part)],
                 "p_type": types[rs.integers(0, 6, n_part)],
                 "p_size": rs.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": np.round(900 + rs.integers(0, 1000, n_part) * 0.1, 1)},
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    odate = days(datetime(1995, 1, 1), 2404, n_ord)
    put("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rs.integers(0, n_cust, n_ord),
                   "o_orderstatus": np.array(["P", "O", "F"])[rs.integers(0, 3, n_ord)],
                   "o_totalprice": money(1000, 500000, n_ord),
                   "o_orderdate": odate,
                   "o_orderpriority": np.array(
                       ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                   )[rs.integers(0, 5, n_ord)]},
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", pa.string())]))
    lok = rs.integers(0, n_ord, n_li)
    qty = rs.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {"l_orderkey": lok,
                     "l_partkey": rs.integers(0, n_part, n_li),
                     "l_suppkey": rs.integers(0, n_supp, n_li),
                     "l_linenumber": rs.integers(1, 8, n_li).astype(np.int32),
                     "l_quantity": qty,
                     "l_extendedprice": np.round(qty * rs.uniform(900, 2100, n_li), 2),
                     "l_discount": rs.integers(0, 11, n_li) / 100.0,
                     "l_tax": rs.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": np.array(["N", "R", "A"])[rs.integers(0, 3, n_li)],
                     "l_linestatus": np.array(["F", "O"])[rs.integers(0, 2, n_li)],
                     "l_shipdate": odate[lok]
                     + rs.integers(1, 122, n_li) * np.timedelta64(1, "D")},
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rs.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    put("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": ts,
                   "user_id": rs.integers(0, max(n_ev // 66, 1), n_ev),
                   "event_type": np.array(
                       ["signup", "purchase", "view", "click", "error"]
                   )[rs.integers(0, 5, n_ev)],
                   "value": np.round(rs.exponential(60, n_ev), 2),
                   "props": [json.dumps({"k": int(k)}) for k in rs.integers(0, 100, n_ev)]},
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rs.random() < 0.05:  # near-duplicate of an earlier doc
            t = texts[int(rs.integers(0, i))] + " dup" * int(rs.integers(1, 3))
        else:
            t = " ".join(_VOCAB[j] for j in rs.integers(0, len(_VOCAB), int(rs.integers(10, 101))))
        texts.append(t)
    langs = np.array(["en", "en", "zh", "es", "fr", "de"])
    put("documents", {"doc_id": np.arange(n_doc, dtype=np.int64),
                      "text": texts,
                      "lang": langs[rs.integers(0, 6, n_doc)],
                      "source": [f"src{i % 20}" for i in range(n_doc)],
                      "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))
    labels = rs.integers(0, 10, n_emb)
    centers = rs.normal(0, 1, (10, 64))
    vec = centers[labels] * 0.5 + rs.normal(0, 1, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {"vec_id": np.arange(n_emb, dtype=np.int64),
                       "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
                       "label": labels.astype(np.int32)},
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))
    return root
