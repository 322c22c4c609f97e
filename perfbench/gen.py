"""Seeded input generators.  The program under test only ever sees their
output: JSON-lines message files and parquet tables.

- ``drain_backlog``: events-shaped JSON messages (the field set of the
  ``events`` table) with a seeded share of malformed lines and ``ts`` in
  three RFC3339 variants (or three day-name layouts), plus the typed
  values the checks compare the landed rows against.
- ``tail_lines``: the messages of one ``tail`` tick, each stamped with the
  time it is due.
- ``query_tables``: the ten tables the registered queries read, with the
  schema and value domains of the repository's testdata (TESTDATA.md).
"""

from __future__ import annotations

import calendar
import json
import os
import random
import time

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
T0_2024 = calendar.timegm((2024, 1, 1, 0, 0, 0))
# The reference's generators emit no malformed lines; a small share keeps
# parse_stream's drop path in the measured work without letting it set the
# cost (a dropped line is cheaper than a landed one).
BAD_SHARE = 0.005

# The drain task: every dim goes through a different cast family.
DRAIN_DIMS = (
    ("event_id", "Int64", None),
    ("time", "DateTime", "ts"),
    ("user_id", "UInt16", None),  # clamping integer cast; sources span beyond [0, 65535]
    ("name", "String", "event_type"),
    ("value", "Nullable(Float32)", None),
    ("props", "String", None),
)
# The tail load: a file every TAIL_TICK seconds at TAIL_RATE rows/s, well
# below what drain sustains so no backlog builds up, after one warm-up file
# of TAIL_WARM_ROWS rows.
TAIL_RATE = 2000
TAIL_TICK = 0.25
TAIL_PER_TICK = int(TAIL_RATE * TAIL_TICK)
TAIL_WARM_ROWS = 200
# The tail task carries the due stamp and an id through to the receiver.
TAIL_DIMS = (
    ("id", "Int64", None),
    ("due", "Float64", None),
    ("time", "DateTime", "ts"),
    ("user_id", "UInt16", None),
    ("name", "String", "event_type"),
    ("value", "Nullable(Float32)", None),
)


def _rfc3339(rng: random.Random, epoch: int) -> str:
    """``epoch`` as RFC3339, the layout family of the reference's own message
    generators (FIXTURES.md F1 ``<rfc3339-ns>``, F3 ``<rfc3339>``): one of
    three variants, chosen evenly by ``rng`` (perfbench/README.md)."""
    k = rng.randrange(3)
    if k == 0:  # seconds, UTC
        return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch))
    if k == 1:  # nanoseconds, UTC, trailing zeros trimmed (Go's RFC3339Nano)
        frac = ("%09d" % rng.randrange(1, 10**9)).rstrip("0")
        return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(epoch)) + "." + frac + "Z"
    # nanoseconds with an offset: a producer whose clock is not on UTC
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(epoch + 8 * 3600)) + ".%09d+08:00" % rng.randrange(10**9)


def _dayname(rng: random.Random, epoch: int) -> str:
    """``epoch`` in one of three of Go's day-name layouts the reference
    accepts (RFC1123 with GMT, ANSIC, RFC850), chosen evenly by ``rng``.
    None parses raw, so each takes ``parse_datetime_any``'s normalising
    fallback rather than its RFC3339 fast path."""
    t = time.gmtime(epoch)
    k = rng.randrange(3)
    if k == 0:
        return time.strftime("%a, %d %b %Y %H:%M:%S GMT", t)
    if k == 1:  # the day of the month space-padded
        return time.strftime("%a %b ", t) + "%2d" % t.tm_mday + time.strftime(" %H:%M:%S %Y", t)
    return time.strftime("%A, %d-%b-%y %H:%M:%S GMT", t)


TS_LAYOUTS = {"rfc3339": _rfc3339, "dayname": _dayname}

_MSG = ('{"event_id": %d, "ts": "%s", "user_id": %d, "event_type": "%s", '
        '"value": %.2f, "props": "{\\"k\\": %d}"}')


def drain_backlog(dirpath: str, seed: int, rows: int, files: int, layouts: str = "rfc3339") -> dict:
    """Write ``rows`` messages as ``files`` JSON-lines files under
    ``dirpath``, ``ts`` in the ``TS_LAYOUTS[layouts]`` family; about
    ``BAD_SHARE`` of the lines are malformed.  Returns
    the expected outcome: valid and malformed counts and the checksums of
    the ids, of the clamped ``user_id`` and of the unix seconds of ``ts``
    over the valid rows."""
    rng = random.Random(seed)
    fmt_ts = TS_LAYOUTS[layouts]
    os.makedirs(dirpath, exist_ok=True)
    exp = {"valid": 0, "malformed": 0, "sum_id": 0, "sum_user": 0, "sum_id_user": 0, "sum_time": 0}
    per = -(-rows // files)
    for f in range(files):
        lines = []
        for i in range(f * per, min(rows, (f + 1) * per)):
            user = rng.randrange(-2000, 70000)
            epoch = T0_2024 + rng.randrange(30 * 86400)
            line = _MSG % (i, fmt_ts(rng, epoch), user,
                           EVENT_TYPES[rng.randrange(5)], rng.random() * 400, rng.randrange(100))
            if rng.random() < BAD_SHARE:
                exp["malformed"] += 1
                # truncated mid-object, or not JSON at all
                line = line[: rng.randrange(5, len(line) - 5)] if rng.random() < 0.5 else "garbage %d" % i
            else:
                u16 = min(max(user, 0), 65535)
                exp["valid"] += 1
                exp["sum_id"] += i
                exp["sum_user"] += u16
                exp["sum_id_user"] += i * u16
                exp["sum_time"] += epoch
            lines.append(line)
        with open(os.path.join(dirpath, "part-%04d.json" % f), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return exp


def tail_lines(rng: random.Random, first_id: int, n: int, due: float) -> list[str]:
    out = []
    for i in range(first_id, first_id + n):
        out.append(json.dumps({
            "id": i, "due": due, "ts": _rfc3339(rng, int(due)),
            "user_id": rng.randrange(-2000, 70000),
            "event_type": EVENT_TYPES[rng.randrange(5)],
            "value": round(rng.random() * 400, 2),
        }))
    return out


# --------------------------------------------------------------------------
# Query tables
# --------------------------------------------------------------------------

_VOCAB = ("query row stream the batch sort value hash filter big data dup spark line small "
          "fast group customer part column order scan a slow agg key window table merge "
          "vector join").split()


def query_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """The testdata's ten tables at scale ``sf`` (sf 0.1 = 600 K
    lineitem rows), same columns, types and value domains, one parquet
    file each.  Written to a temporary directory and renamed into place,
    so a reader never sees a partial set."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = np.random.default_rng(seed)
    n_ord = int(1_500_000 * sf)
    n_li = 4 * n_ord
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    def ts_days(lo: str, hi: str, n: int):
        a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        return (a + r.integers(0, (b - a).astype(int) + 1, n)).astype("datetime64[us]")

    def money(lo: float, hi: float, n: int):
        return np.round(r.uniform(lo, hi, n), 2)

    def pick(choices, n: int):
        return np.array(choices, dtype=object)[r.integers(0, len(choices), n)]

    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": ["NATION_%d" % i for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": ["Customer#%09d" % i for i in range(n_cust)],
                     "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)}
    t["supplier"] = {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
                     "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)}
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [adj[a] + " " + noun[b] for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
                 "p_brand": pick(["Brand#%d" % i for i in range(1, 26)], n_part),
                 "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                 "p_size": r.integers(1, 51, n_part, dtype=np.int32),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}
    t["orders"] = {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
                   "o_orderstatus": pick(["F", "O", "P"], n_ord),
                   "o_totalprice": money(1000, 500000, n_ord),
                   "o_orderdate": ts_days("1995-01-01", "2001-08-01", n_ord),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)}
    t["lineitem"] = {"l_orderkey": r.integers(0, n_ord, n_li, dtype=np.int64),
                     "l_partkey": r.integers(0, n_part, n_li, dtype=np.int64),
                     "l_suppkey": r.integers(0, n_supp, n_li, dtype=np.int64),
                     "l_linenumber": r.integers(1, 8, n_li, dtype=np.int32),
                     "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": money(900, 105000, n_li),
                     "l_discount": r.integers(0, 11, n_li) / 100.0,
                     "l_tax": r.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": pick(["A", "N", "R"], n_li),
                     "l_linestatus": pick(["F", "O"], n_li),
                     "l_shipdate": ts_days("1995-01-02", "2001-11-04", n_li)}
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(r.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    t["events"] = {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": ev_ts,
                   "user_id": r.integers(0, max(n_ev // 66, 1), n_ev, dtype=np.int64),
                   "event_type": pick(list(EVENT_TYPES), n_ev),
                   "value": np.round(np.minimum(r.exponential(50.0, n_ev), 560.0), 2),
                   "props": ['{"k": %d}' % k for k in r.integers(0, 100, n_ev)]}
    texts = [" ".join(np.array(_VOCAB)[r.integers(0, len(_VOCAB), int(k))]) for k in r.integers(10, 101, n_doc)]
    for i in r.integers(0, n_doc, max(n_doc // 20, 1)):  # near duplicates: a copy plus "dup"
        texts[int(i)] = texts[int(r.integers(0, n_doc))] + " dup" * int(r.integers(1, 3))
    for i in r.integers(0, n_doc, max(n_doc // 500, 1)):  # exact duplicates
        texts[int(i)] = texts[int(r.integers(0, n_doc))]
    t["documents"] = {"doc_id": np.arange(n_doc, dtype=np.int64),
                      "text": texts,
                      "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
                      "source": pick(["src%d" % i for i in range(20)], n_doc),
                      "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    emb = r.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {"vec_id": np.arange(n_emb, dtype=np.int64),
                       "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                       "label": r.integers(0, 10, n_emb, dtype=np.int32)}

    tmp = out_dir + ".tmp%d" % os.getpid()
    os.makedirs(tmp, exist_ok=True)
    for name, cols in t.items():
        pq.write_table(pa.table({k: (v if isinstance(v, pa.Array) else pa.array(v)) for k, v in cols.items()}),
                       os.path.join(tmp, name + ".parquet"))
    os.rename(tmp, out_dir)
