"""Seeded input generation for the benchmark (DuckDB SQL -> Arrow -> Parquet).

Every value is a pure function of (seed, row id, column salt) through
DuckDB's `hash`, so the same seed always yields byte-identical Parquet
files and a different seed changes them. Files are written by pyarrow as
one row group each with microsecond `timestamp` columns (no time zone),
the same physical layout as the engine's fixture tables, so
`graft.Fixtures.table` and every registry query read them unchanged.

Two table sets:
  * `fixtures(dir, sf, seed)`  the ten registry tables
    (region ... embeddings) at scale factor `sf` (0.1 ~ 890k rows);
  * `incremental(dir, stage, seed, invocations)`  four tables, one per
    watermark route, plus one pre-generated delta per table and
    invocation under `stage/<table>/<k>.parquet`.
"""
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "line", "small", "fast", "group", "customer", "part",
         "column", "order", "scan", "a", "slow", "agg", "key", "window",
         "table", "merge", "vector", "join", "query", "row", "stream", "the",
         "batch", "sort", "value", "hash", "filter", "big", "data"]

# Synthetic clock of export_incremental: the bootstrap export runs at
# BASE_RUN, invocation k at BASE_RUN + k * STEP_S seconds.
BASE_RUN = "2025-01-01 00:00:00"
STEP_S = 3600

def _con(seed):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(a, b): uniform double in [0, 1) from (seed, a, b)
    con.execute(f"CREATE MACRO u(a, b) AS "
                f"(hash({int(seed)}::BIGINT, a::BIGINT, b::BIGINT) % 1000003) / 1000003.0")
    con.execute(f"CREATE MACRO ui(a, b, n) AS "
                f"(hash({int(seed)}::BIGINT, a::BIGINT, b::BIGINT) % (n)::UBIGINT)::BIGINT")
    return con


def _write(con, sql, path):
    tbl = con.sql(sql).arrow()
    fields = []
    for f in tbl.schema:
        t = f.type
        if pa.types.is_timestamp(t):
            t = pa.timestamp("us")
        fields.append(pa.field(f.name, t))
    tbl = tbl.cast(pa.schema(fields))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
    return tbl.num_rows


def fixture_sizes(sf):
    return {
        "region": 5, "nation": 25,
        "customer": round(150000 * sf), "supplier": round(10000 * sf),
        "part": round(200000 * sf), "orders": round(1500000 * sf),
        "lineitem": round(6000000 * sf), "events": round(1000000 * sf),
        "documents": max(500, round(50000 * sf)),
        "embeddings": max(500, round(20000 * sf)),
    }


def fixtures(out_dir, sf, seed):
    """Write the ten fixture tables; return {table: rows}."""
    n = fixture_sizes(sf)
    con = _con(seed)
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    nu = max(1, round(15000 * sf))  # distinct event users
    sql = {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            ui(i, 1, 25)::INTEGER AS c_nationkey,
            round(-999.99 + ui(i, 2, 1099999) / 100.0, 2) AS c_acctbal,
            ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][ui(i, 3, 5) + 1] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            ui(i, 11, 25)::INTEGER AS s_nationkey,
            round(-999.99 + ui(i, 12, 1099999) / 100.0, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            ['large','hot','blue','old','cold','red','small'][ui(i, 21, 7) + 1] || ' ' ||
            ['ring','bolt','plate','gear','widget','rod','anvil','nut','pipe'][ui(i, 22, 9) + 1] AS p_name,
            'Brand#' || (ui(i, 23, 25) + 1) AS p_brand,
            ['LARGE','ECONOMY','STANDARD','PROMO','SMALL','MEDIUM'][ui(i, 24, 6) + 1] AS p_type,
            (ui(i, 25, 50) + 1)::INTEGER AS p_size,
            round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, ui(i, 31, {n['customer']}) AS o_custkey,
            ['O','F','P'][ui(i, 32, 3) + 1] AS o_orderstatus,
            round(1000 + ui(i, 33, 49899999) / 100.0, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(ui(i, 34, 2404)::INTEGER) AS o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][ui(i, 35, 5) + 1] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT ui(i, 41, {n['orders']}) AS l_orderkey,
            ui(i, 42, {n['part']}) AS l_partkey, ui(i, 43, {n['supplier']}) AS l_suppkey,
            (ui(i, 44, 7) + 1)::INTEGER AS l_linenumber,
            (ui(i, 45, 50) + 1)::DOUBLE AS l_quantity,
            round(900 + ui(i, 46, 10409999) / 100.0, 2) AS l_extendedprice,
            ui(i, 47, 11) / 100.0 AS l_discount, ui(i, 48, 9) / 100.0 AS l_tax,
            ['A','N','R'][ui(i, 49, 3) + 1] AS l_returnflag,
            ['F','O'][ui(i, 50, 2) + 1] AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(ui(i, 51, 2498)::INTEGER) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(
              (i * (2592000000000 // {n['events']}) + ui(i, 61, 2592000000000 // {n['events']}))::BIGINT) AS ts,
            ui(i, 62, {nu}) AS user_id,
            ['click','view','signup','error','purchase'][ui(i, 63, 5) + 1] AS event_type,
            round(-ln(1 - u(i, 64)) * 50, 2) AS value,
            '{{"k": ' || ui(i, 65, 100) || '}}' AS props
            FROM range({n['events']}) t(i)""",
        # ~5 % of documents are near-duplicates of an earlier document:
        # same word sequence with a few words replaced by 'dup'
        "documents": f"""WITH d AS (
              SELECT i, CASE WHEN i > 50 AND ui(i, 71, 20) = 0 THEN i - 1 - ui(i, 72, 50) ELSE i END AS src
              FROM range({n['documents']}) t(i)),
            v AS (SELECT (k - 1)::BIGINT AS k, {vocab}[k] AS w FROM range(1, {len(VOCAB) + 1}) t(k)),
            p AS (SELECT i, src, j, ui(src * 1000 + j, 75, {len(VOCAB)}) AS k FROM d, range(100) r(j)
                  WHERE j < 10 + ui(src, 73, 91)),
            w AS (SELECT i, string_agg(CASE WHEN i <> src AND ui(i * 1000 + j, 74, 12) = 0 THEN 'dup'
                         ELSE v.w END, ' ' ORDER BY j) AS text
                  FROM p JOIN v USING (k) GROUP BY i)
            SELECT i AS doc_id, text,
              ['en','en','en','es','zh','de','fr'][ui(i, 76, 7) + 1] AS lang,
              'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars
            FROM w ORDER BY i""",
        # ten label clusters in 64 dimensions, unit-normalized; ~5 % of the
        # vectors are tiny perturbations of an earlier vector
        "embeddings": f"""WITH v AS (
              SELECT i, CASE WHEN i > 20 AND ui(i, 81, 20) = 0 THEN i - 1 - ui(i, 82, 20) ELSE i END AS src
              FROM range({n['embeddings']}) t(i)),
            r AS (SELECT i, ui(src, 83, 10)::INTEGER AS label, list_transform(range(64), d ->
                (u(ui(src, 83, 10) * 64 + d, 84) - 0.5) * 2
                + (u(src * 64 + d, 85) + u(src * 64 + d, 86) + u(src * 64 + d, 87) - 1.5)
                + CASE WHEN i <> src THEN (u(i * 64 + d, 88) - 0.5) * 0.02 ELSE 0 END) AS x FROM v)
            SELECT i AS vec_id,
              list_transform(x, e -> (e / sqrt(list_sum(list_transform(x, y -> y * y))))::FLOAT) AS embedding,
              label FROM r ORDER BY i""",
    }
    return {t: _write(con, q, os.path.join(out_dir, f"{t}.parquet"))
            for t, q in sql.items()}


def incremental(out_dir, stage_dir, seed, invocations, base_rows=100000):
    """Write the four route tables (as Parquet directories, so deltas can
    be added as part files) and `invocations` seeded deltas per table.

    Delta k is what the source receives between invocation k-1 and k:
    about 1 % new rows stamped in (run_{k-1}, run_k], plus re-stamped
    copies of existing rows (newer `updated_at`). The created-only table
    also gets rows stamped exactly at run_{k-1}, which strict `>` must
    not export. Returns the expected per-invocation export counts.
    """
    con = _con(seed)
    n_new = max(1, base_rows // 100)
    n_upd = max(1, base_rows // 200)
    n_edge = 3
    base = f"TIMESTAMP '{BASE_RUN}'"

    def ts_before(i, salt):  # strictly before the bootstrap run
        return f"{base} - to_microseconds((1 + ui({i}, {salt}, 31536000000000))::BIGINT)"

    def ts_in(k, i, salt):  # in (run_{k-1}, run_k]
        return (f"{base} + to_microseconds(({k} - 1) * {STEP_S * 1000000}::BIGINT"
                f" + 1 + ui({k} * 1000000 + {i}, {salt}, {STEP_S * 1000000}))")

    cols = ("id, CASE ui(id, 91, 3) WHEN 0 THEN 'new' WHEN 1 THEN 'paid' ELSE 'shipped' END AS status,"
            " round(ui(id, 92, 1000000) / 100.0, 2) AS amount, 'note ' || ui(id, 93, 997) AS note")
    bases = {
        "inc_created": f"SELECT {cols}, {ts_before('id', 94)} AS created_at FROM range({base_rows}) t(id)",
        "inc_created_updated": f"SELECT {cols}, {ts_before('id', 95)} AS created_at, "
                               f"{ts_before('id', 95)} + to_microseconds(ui(id, 96, 1000000)::BIGINT) AS updated_at "
                               f"FROM range({base_rows}) t(id)",
        "inc_updated": f"SELECT {cols}, {ts_before('id', 97)} AS updated_at FROM range({base_rows // 2}) t(id)",
        "inc_full": f"SELECT {cols} FROM range({base_rows // 20}) t(id)",
    }
    base_sizes = {t: _write(con, q, os.path.join(out_dir, f"{t}.parquet", "part-00000.parquet"))
                  for t, q in bases.items()}
    sizes = dict(base_sizes)

    expected = []
    for k in range(1, invocations + 1):
        first = base_rows + (k - 1) * n_new
        ids = f"range({first}, {first + n_new}) t(id)"
        upd = f"(SELECT ui({k} * 100000 + j, 98, {base_rows}) AS id, j FROM range({n_upd}) s(j))"
        wm_prev = f"{base} + to_microseconds(({k} - 1) * {STEP_S * 1000000}::BIGINT)"
        deltas = {
            "inc_created": f"SELECT {cols}, {ts_in(k, 'id', 101)} AS created_at FROM {ids} "
                           f"UNION ALL SELECT {cols}, {wm_prev} AS created_at "
                           f"FROM range({10**12 + k * n_edge}, {10**12 + (k + 1) * n_edge}) t(id)",
            "inc_created_updated": f"SELECT {cols}, {ts_in(k, 'id', 102)} AS created_at, "
                                   f"{ts_in(k, 'id', 102)} AS updated_at FROM {ids} "
                                   f"UNION ALL SELECT {cols}, {ts_before('id', 95)} AS created_at, "
                                   f"{ts_in(k, 'id * 7 + j', 103)} AS updated_at FROM {upd}",
            "inc_updated": f"SELECT {cols}, {ts_in(k, 'id', 104)} AS updated_at FROM {ids}",
            "inc_full": f"SELECT {cols} FROM range({10**13 + (k - 1) * 5}, {10**13 + k * 5}) t(id)",
        }
        for t, q in deltas.items():
            sizes[t] += _write(con, q, os.path.join(stage_dir, t, f"{k}.parquet"))
        # expected export of invocation k: (rows, sum of ids), read back
        # from the files with the same strict `>` the Exporter applies
        wm = f"TIMESTAMP '{run_time(k - 1)}'"
        d = os.path.join(stage_dir, "{}", f"{k}.parquet")
        full = [os.path.join(out_dir, "inc_full.parquet", "part-00000.parquet")] + [
            os.path.join(stage_dir, "inc_full", f"{j}.parquet") for j in range(1, k + 1)]
        expected.append({
            "inc_created": con.sql(f"SELECT count(*), coalesce(sum(id), 0) FROM '{d.format('inc_created')}' "
                                   f"WHERE created_at > {wm}").fetchone(),
            "inc_created_updated": con.sql(
                f"SELECT count(*), coalesce(sum(id), 0) FROM '{d.format('inc_created_updated')}' "
                f"WHERE created_at > {wm} OR updated_at > {wm}").fetchone(),
            "inc_full": con.sql(f"SELECT count(*), coalesce(sum(id), 0) FROM read_parquet({full!r})").fetchone(),
        })
    return {"base_rows": base_sizes,
            "per_invocation": [{t: [int(n), int(s)] for t, (n, s) in e.items()} for e in expected]}


def run_time(k):
    """Python `str(datetime)` of invocation k's run time (k = 0: bootstrap)."""
    import datetime
    t = datetime.datetime.fromisoformat(BASE_RUN) + datetime.timedelta(seconds=k * STEP_S)
    return str(t)

