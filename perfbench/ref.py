"""DuckDB twins of the four workloads: the reference the benchmark checks
every pass against.

Each twin reads the same generated parquet the program reads and writes
one parquet file per output channel to `<data>/ref/<channel>.parquet`,
plus `<data>/ref/counts.json` with each channel's row count. The harness
hashes those files once per seed with the same order-independent hash it
applies to the program's output, and caches the result beside them.

Script semantics are restated here in SQL, so a change to a workload's
script in the harness must change its twin too.
"""
import json
import os

import duckdb


def _view(con, data, name):
    con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet/*.parquet')"
                % (name, data, name))


# py_json: the script emits order_id % 3 rows per order with amount >= 0,
# routes negative amounts to the error channel and raises an alert for
# notes starting with '!'. `rate` is the runtime argument (1.08).
PY_JSON = {
    "out": """
        SELECT o.order_id, CAST(o.line AS INTEGER) AS line, r.name AS region,
               o.amount * CAST('1.08' AS DOUBLE) AS gross,
               CAST(length(o.note) - length(replace(o.note, ' ', '')) + 1 AS INTEGER) AS words,
               substr(o.note, 1, 12) AS head
        FROM (SELECT *, unnest(range(order_id % 3)) AS line FROM orders WHERE amount >= 0) o
             LEFT JOIN regions r USING (region_id)""",
    "errors": """
        SELECT 400 AS errorCode, 'negative amount' AS errorMsg, order_id, amount, region_id, note
        FROM orders WHERE amount < 0""",
    "alerts": """
        SELECT MAP(['order_id', 'reason'], [CAST(order_id AS VARCHAR), 'flagged note']) AS payload
        FROM orders WHERE amount >= 0 AND starts_with(note, '!')""",
}

# py_arrow: lead byte < 3 -> error; lead 255 with second byte < 64 ->
# alert; event_id % 3 emits, each with one 16-byte chunk of the payload,
# the segment lookup, the timestamp shifted by `shift_hours` (1) and dates.
_LEAD = "CAST(('0x' || substr(hex(payload), 1, 2)) AS INTEGER)"
PY_ARROW = {
    "out": """
        SELECT e.event_id, CAST(e.part AS INTEGER) AS part, s.name AS segment,
               unhex(substr(hex(e.payload), CAST(e.part AS INTEGER) * 32 + 1, 32)) AS chunk,
               CAST(octet_length(e.payload) AS INTEGER) AS size,
               CAST(e.ts AS TIMESTAMP) + INTERVAL 1 HOUR AS ts_shift,
               CAST(CAST(e.ts AS TIMESTAMP) + INTERVAL 1 HOUR AS DATE) AS ts_day,
               e.day + 1 AS day_next
        FROM (SELECT *, unnest(range(event_id %% 3)) AS part FROM events
              WHERE %s >= 3) e
             LEFT JOIN segments s ON s.segment_id = e.user_id %% 100""" % _LEAD,
    "errors": """
        SELECT 422 AS errorCode, 'bad lead byte' AS errorMsg,
               event_id, user_id, payload, CAST(ts AS TIMESTAMP) AS ts, day
        FROM events WHERE %s < 3""" % _LEAD,
    "alerts": """
        SELECT MAP(['event_id', 'reason'], [CAST(event_id AS VARCHAR), 'marker']) AS payload
        FROM events WHERE %s = 255
          AND CAST(('0x' || substr(hex(payload), 3, 2)) AS INTEGER) < 64""" % _LEAD,
}

# jvm_etl: Dsl steps (net, quantity filter, tag explode), splitErrors on
# discount/comment, the ScriptTransform closure (supplier lookup, 'x' tag
# dropped, unknown supplier -> error), then part join and aggregate.
_DSL = """
    WITH d AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
             l_extendedprice, l_discount, l_tax, l_shipmode, l_tags, l_comment,
             l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) AS net, tag
      FROM lineitem, unnest(string_split(l_tags, ';')) t(tag)
      WHERE l_quantity > 0),
    v AS (SELECT * FROM d WHERE coalesce(NOT (l_discount > 0.095 OR length(l_comment) < 4), false)),
    s AS (SELECT v.*, sp.s_nation FROM v LEFT JOIN supplier sp ON v.l_suppkey = sp.s_suppkey)
"""
JVM_ETL = {
    "dsl_errors": """
        WITH d AS (
          SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
                 l_extendedprice, l_discount, l_tax, l_shipmode, l_tags, l_comment,
                 l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) AS net, tag
          FROM lineitem, unnest(string_split(l_tags, ';')) t(tag)
          WHERE l_quantity > 0)
        SELECT 422 AS errorCode, 'discount or comment out of range' AS errorMsg, *
        FROM d WHERE coalesce(l_discount > 0.095 OR length(l_comment) < 4, true)""",
    "script_errors": _DSL + """
        SELECT 404 AS errorCode, 'unknown supplier' AS errorMsg,
               l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
               l_extendedprice, l_discount, l_tax, l_shipmode, l_tags, l_comment, net, tag
        FROM s WHERE s_nation IS NULL""",
    "agg": _DSL + """,
    o AS (
      SELECT l_partkey, s_nation AS nation, net,
             net * (CAST(1 AS DOUBLE) + l_tax) AS charge, l_quantity AS qty
      FROM s WHERE s_nation IS NOT NULL AND tag <> 'x')
    SELECT o.nation, p.p_brand, count(*) AS n_lines,
           CAST(sum(CAST(floor(o.net * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS net_micros,
           CAST(sum(CAST(floor(o.charge * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS charge_micros,
           sum(o.qty) AS qty
    FROM o JOIN part p ON o.l_partkey = p.p_partkey
    GROUP BY o.nation, p.p_brand""",
}

# curation: the curated channel is the repo's own oracle for
# curationPipeline (TextAnalysis.qCurationE2eSql, dumped by the harness);
# the pairs channel is ddNgramJaccardSql's exact Jaccard with no df cap,
# reshaped so set sizes join as scalars instead of whole shingle lists.
NGRAM_EXACT = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
        list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) AS shingles
      FROM toks WHERE len(w) >= 3),
    shh AS (
      SELECT doc_id, list_distinct(list_transform(shingles,
        x -> ('0x'||substr(md5(x),1,15))::BIGINT)) AS hsh
      FROM sh),
    sizes AS (SELECT doc_id, len(hsh) AS n FROM shh),
    tall AS (SELECT doc_id, unnest(hsh) AS s FROM shh),
    shared AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS shared
      FROM tall x JOIN tall y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id)
    SELECT doc_a, doc_b
    FROM shared JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.5"""


def build(workload, data, oracle_sql, tmp_dir):
    """Run the twin for `workload` over `<data>`; returns {channel: rows}."""
    ref = os.path.join(data, "ref")
    os.makedirs(ref, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET temp_directory='%s'" % tmp_dir)
    con.execute("SET TimeZone='UTC'")
    if workload == "py_json":
        _view(con, data, "orders"); _view(con, data, "regions")
        channels = PY_JSON
    elif workload == "py_arrow":
        _view(con, data, "events"); _view(con, data, "segments")
        channels = PY_ARROW
    elif workload == "jvm_etl":
        for t in ("lineitem", "part", "supplier"):
            _view(con, data, t)
        channels = JVM_ETL
    else:
        _view(con, data, "documents")
        channels = {"curated": oracle_sql["curation"], "pairs": NGRAM_EXACT}
    counts = {}
    for name, sql in channels.items():
        path = os.path.join(ref, name + ".parquet")
        con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (sql, path))
        counts[name] = con.execute("SELECT count(*) FROM read_parquet('%s')" % path).fetchone()[0]
    con.close()
    with open(os.path.join(ref, "counts.json"), "w") as f:
        json.dump(counts, f)
    return counts
