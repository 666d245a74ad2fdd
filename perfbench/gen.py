"""Seeded input generators for the benchmark.

Everything the program reads is written here, from a seed:

* ``write_tables``: the star-schema tables the batch queries read
  (``events``, ``customer``, ``orders``, ``lineitem``, ``documents``),
  shaped like the project's sf testdata (same columns, types, value
  ranges and duplicate structure) at a chosen scale factor.
* ``EnvelopeSource``: Debezium-envelope JSON lines in the shape of
  ``graft.tools.EnvelopeGenerator`` for the streaming workloads, with a
  Zipf-skewed ``content_id``, a share of ``u`` ops, malformed lines and
  late ``event_ts`` values; it keeps the ledger of events the pipeline
  must keep.
* ``write_content_dim``: the 5,000-row content dimension the stream
  enriches against.

The same seed gives the same rows. The only field that is not a
function of the seed is a streamed event's ``__ts_ms``: it carries the
wall-clock time the event was due, which is what latency is timed from.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_ROWS = 5000
CONTENT_TYPES = ["video", "podcast", "article", "newsletter"]
EVENT_TYPES = ["play", "pause", "finish", "click"]
DEVICES = ["ios", "android", "web", "tv", "desktop"]

# stream generator parameters (documented in README.md)
ZIPF_S = 1.1          # content_id popularity skew over the dim rows
U_OP_SHARE = 0.05     # `u` ops, dropped by the CDC op filter
MALFORMED_SHARE = 0.001  # truncated JSON lines, dropped by the parser
LATE_SHARE = 0.02     # events whose event_ts lags by LATE_MIN_S..LATE_MAX_S
LATE_MIN_S, LATE_MAX_S = 60, 1200
EVENT_TS_BASE_S = 1704067200  # 2024-01-01T00:00:00Z; event_ts = base + schedule offset

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def write_tables(out_dir, seed, sf):
    """Writes the batch tables at scale factor ``sf`` (0.1 = the sf0.1 sizes)."""
    os.makedirs(out_dir, exist_ok=True)
    n_events = int(round(1_000_000 * sf))
    n_users = int(round(15_000 * sf))
    n_cust = int(round(150_000 * sf))
    n_orders = int(round(1_500_000 * sf))
    n_lines = int(round(6_000_000 * sf))
    n_docs = 5000 if sf >= 0.1 else 500

    rng = np.random.default_rng([seed, 1])
    start_us = EVENT_TS_BASE_S * 1_000_000
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + start_us
    ev_types = np.array(["signup", "click", "error", "view", "purchase"])
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(ev_types[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]),
    }), f"{out_dir}/events.parquet")

    rng = np.random.default_rng([seed, 2])
    segments = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
    }), f"{out_dir}/customer.parquet")

    rng = np.random.default_rng([seed, 3])
    day_us = 86400 * 1_000_000
    d0 = 694224000 * 1_000_000  # 1992-01-01
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n_orders), 2)),
        "o_orderdate": pa.array(d0 + rng.integers(0, 3650, n_orders) * day_us,
                                type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_orders)]),
    }), f"{out_dir}/orders.parquet")

    rng = np.random.default_rng([seed, 4])
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n_lines, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), n_lines, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_lines), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_lines) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_lines) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_lines)]),
        "l_shipdate": pa.array(d0 + rng.integers(0, 3650, n_lines) * day_us,
                               type=pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")

    # documents: 10-100 words from a 30-word vocabulary, 5% near-duplicates
    # (another document's text + " dup") and a few exact duplicates, as in
    # the sf testdata, so the dedup stages have real work
    rng = np.random.default_rng([seed, 5])
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(n))])
             for n in rng.integers(10, 101, n_docs)]
    n_near = n_docs // 20
    near = rng.choice(n_docs, n_near, replace=False)
    for d in near:
        texts[d] = texts[(d + 1 + int(rng.integers(0, n_docs - 1))) % n_docs] + " dup"
    for _ in range(max(1, n_docs // 600)):
        a, b = rng.choice(n_docs, 2, replace=False)
        texts[b] = texts[a]
    langs = np.array(["en", "zh", "es", "fr", "de"])[
        rng.choice(5, n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14])]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out_dir}/documents.parquet")


def table_identity(data_dir, names):
    """Row count and column types of each table, read from parquet footers."""
    out = {}
    for name in names:
        f = pq.ParquetFile(f"{data_dir}/{name}.parquet")
        out[name] = {"rows": f.metadata.num_rows,
                     "columns": [f"{fld.name}:{fld.type}" for fld in f.schema_arrow]}
    return out


def write_content_dim(path):
    """The content dimension (EnvelopeGenerator.contentDim's rows)."""
    ids = np.arange(CONTENT_ROWS)
    lengths = [None if i % 4 == 3 else 600 + i % 3600 for i in ids]
    _write(pa.table({
        "id": pa.array([f"content-{i}" for i in ids]),
        "slug": pa.array([f"slug-{i}" for i in ids]),
        "title": pa.array(["t"] * CONTENT_ROWS),
        "content_type": pa.array([CONTENT_TYPES[i % 4] for i in ids]),
        "length_seconds": pa.array(lengths, type=pa.int32()),
        "publish_ts": pa.array(["2023-01-01T00:00:00Z"] * CONTENT_ROWS),
    }), path)


class EnvelopeSource:
    """Seeded stream of envelope lines. ``take(n, due_ms)`` returns the
    next ``n`` lines; ``due_ms[i]`` is line i's due time (its ``__ts_ms``)
    and its event_ts is ``EVENT_TS_BASE_S`` + its schedule offset."""

    def __init__(self, seed, first_id=0):
        self.rng = np.random.default_rng([seed, 7])
        ranks = np.arange(1, CONTENT_ROWS + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.zipf_p = p / p.sum()
        self.rank_to_content = self.rng.permutation(CONTENT_ROWS)
        self.next_id = first_id
        self.kept = []  # (id, due_ms) of every event the pipeline must keep

    def take(self, n, due_ms, offset_s):
        """``offset_s[i]`` is event i's schedule offset (seconds) from the
        start of its stream; event_ts = base + offset, minus lateness."""
        rng = self.rng
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        content = self.rank_to_content[rng.choice(CONTENT_ROWS, n, p=self.zipf_p)]
        etype = rng.integers(0, 4, n)
        dur = rng.integers(10, 610, n) * 100
        op_u = rng.random(n) < U_OP_SHARE
        bad = rng.random(n) < MALFORMED_SHARE
        late = np.where(rng.random(n) < LATE_SHARE,
                        rng.integers(LATE_MIN_S, LATE_MAX_S + 1, n), 0)
        device = rng.integers(0, 5, n)
        ev_ts = EVENT_TS_BASE_S + np.asarray(offset_s, dtype=np.int64) - late
        lines = []
        for i in range(n):
            et = EVENT_TYPES[etype[i]]
            ts = np.datetime_as_string(np.datetime64(int(ev_ts[i]), "s")) + "Z"
            line = (
                '{"payload": {"id": %d, "content_id": "content-%d", "user_id": "u%d", '
                '"event_type": "%s", "event_ts": "%s", "duration_ms": %s, '
                '"device": "%s", "raw_payload": "{}", "__op": "%s", '
                '"__table": "engagement_events", "__db": "streaming_db", '
                '"__ts_ms": %d}}' % (
                    ids[i], content[i], ids[i] % 5000, et, ts,
                    "null" if et == "click" else str(dur[i]), DEVICES[device[i]],
                    "u" if op_u[i] else "c", due_ms[i]))
            if bad[i]:
                line = line[: len(line) // 2]
            else:
                if not op_u[i]:
                    self.kept.append((int(ids[i]), int(due_ms[i])))
            lines.append(line)
        return lines


def write_drop(drop_dir, name, lines):
    """Write-then-rename, so the file source never lists a partial file."""
    tmp = f"{drop_dir}/.{name}.tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, f"{drop_dir}/{name}")
