"""Seeded input generator for the perfbench workloads.

Every workload's inputs are a pure function of (workload, scale, seed): the
same seed always yields the same inputs.  Outputs are cached under the
work directory, one directory per (workload, scale, seed), with a
`manifest.json` that records what was generated (file, row and byte counts,
duplication rate) so the working-set size of each run is stated.

The program under test only ever sees the generated parquet files.
"""
import datetime as dt
import hashlib
import json
import os
import random
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Scale presets.  "full" is what the benchmark measures; "smoke" exercises
# every code path on the sf0.001 fixtures in a few seconds.
SCALES = {
    "full": {
        "ingest_sf": "sf0.1", "ingest_fraction": 0.1,
        "curate_sf": "sf0.1", "curate_base_docs": 320, "curate_variant_share": 0.5,
        "adhoc_sf": "sf0.01", "adhoc_pool": None,
    },
    "smoke": {
        "ingest_sf": "sf0.001", "ingest_fraction": 1.0,
        "curate_sf": "sf0.001", "curate_base_docs": 120, "curate_variant_share": 0.5,
        "adhoc_sf": "sf0.001", "adhoc_pool": 6,
    },
}

# The ingestion date of the generated drop tree; the cold run ingests
# INGEST_DAYS days from it, the incremental run the day after.
D0 = dt.date(2019, 7, 1)
INGEST_DAYS = 3
ENVS = ["NL", "BE"]
FOREIGN_ENV = "FR"

# Entity -> (source table, key columns, config column specs, SELECT list
# producing string-typed, deliberately dirty cells).  `h` is a per-row
# seeded hash in [0, 1e6); the CASE arms plant the values T0-T8 exist for.
ENTITIES = {
    "LineItem": ("lineitem", "l_orderkey * 8 + l_linenumber", [
        "l_orderkey:bigint:notnull", "l_linenumber:int:notnull",
        "l_partkey:bigint", "l_quantity:int", "l_extendedprice",
        "l_returnflag", "l_shipdate:datetime", "l_comment:text",
        "MissingCol", "Environment", "CIGCopyTime", "CIGProcessed"],
        """CAST(l_orderkey AS VARCHAR) AS l_orderkey,
           CAST(l_linenumber AS VARCHAR) AS l_linenumber,
           CASE WHEN h % 50 = 0 THEN 'None' WHEN h % 50 = 1 THEN 'nan'
                WHEN h % 50 = 2 THEN CAST(l_partkey AS VARCHAR) || '.0'
                WHEN h % 50 = 3 THEN printf('%.1e', CAST(l_partkey * 1000 AS DOUBLE))
                ELSE CAST(l_partkey AS VARCHAR) END AS l_partkey,
           CAST(l_quantity AS VARCHAR) AS l_quantity,
           CASE WHEN h % 70 = 4 THEN 'nan' ELSE CAST(l_extendedprice AS VARCHAR) END AS l_extendedprice,
           CASE WHEN h % 40 = 5 THEN 'True' WHEN h % 40 = 6 THEN 'False' ELSE l_returnflag END AS l_returnflag,
           CASE WHEN h % 60 = 7 THEN 'NaT'
                ELSE strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') || '.1234567' END AS l_shipdate,
           CASE WHEN h % 25000 = 8 THEN repeat('x', 100010)
                ELSE 'c' || CAST(l_orderkey AS VARCHAR) END AS l_comment"""),
    "Orders": ("orders", "o_orderkey", [
        "o_orderkey:bigint:notnull", "o_custkey:bigint", "o_orderstatus",
        "o_totalprice", "o_orderdate:datetime", "o_orderpriority",
        "Environment", "CIGCopyTime", "CIGProcessed"],
        """CAST(o_orderkey AS VARCHAR) AS o_orderkey,
           CASE WHEN h % 50 = 0 THEN 'None' WHEN h % 50 = 1 THEN CAST(o_custkey AS VARCHAR) || '.0'
                WHEN h % 50 = 2 THEN printf('%.2e', CAST(o_custkey * 100 AS DOUBLE))
                ELSE CAST(o_custkey AS VARCHAR) END AS o_custkey,
           CASE WHEN h % 40 = 3 THEN 'True' ELSE o_orderstatus END AS o_orderstatus,
           CAST(o_totalprice AS VARCHAR) AS o_totalprice,
           CASE WHEN h % 60 = 4 THEN 'NaT'
                ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '.000000001' END AS o_orderdate,
           o_orderpriority"""),
    "Customer": ("customer", "c_custkey", [
        "c_custkey:bigint:notnull", "c_name", "c_nationkey:int",
        "c_acctbal", "c_mktsegment", "Geolocation", "Logo",
        "Environment", "CIGCopyTime", "CIGProcessed"],
        """CAST(c_custkey AS VARCHAR) AS c_custkey,
           CASE WHEN h % 30 = 0 THEN 'None' ELSE c_name END AS c_name,
           CAST(c_nationkey AS VARCHAR) || CASE WHEN h % 2 = 0 THEN '.0' ELSE '' END AS c_nationkey,
           CAST(c_acctbal AS VARCHAR) AS c_acctbal,
           c_mktsegment,
           'POINT (4.9 52.4)' AS Geolocation,
           'iVBORw0KGgo' AS Logo"""),
}
# Drops of a disabled table exist in the tree and must never be ingested.
DISABLED = ("Supplier", "supplier", "s_suppkey",
            ["s_suppkey:bigint:notnull", "s_name", "Environment", "CIGCopyTime", "CIGProcessed"],
            "CAST(s_suppkey AS VARCHAR) AS s_suppkey, s_name")
SENTINELS = ("None", "nan", "NaT")

# Ad-hoc pool: the short, side-effect-free queries among q01-q24, q40-q42,
# q46-q53, q87 and q92 (none persists, checkpoints or clears the cache; q42
# persists and is left out), without those whose result ends in a global
# sort: Spark seeds the range partitioner's sample with the RDD id, so their
# shuffle bytes change from run to run and the traced run's repeat check
# could not tell them from a run riding an earlier run's artifacts.
ADHOC_POOL = [
    "q03_audit_columns", "q09_nvarchar_truncate", "q12_config_semi_join",
    "q16_freshness_latest", "q17_freshness_stale", "q19_distinct_ids",
    "q20_existence_probe", "q21_run_summary", "q22_latest_per_group",
    "q24_revenue_per_nation", "q40_rollup_stats", "q41_table_profile",
    "q47_pivot", "q49_percentiles", "q51_range_join", "q52_cube_stats",
    "q53_salted_skew_join", "q87_histogram", "q92_equidepth_hist",
]
# Exact (MD5) dedup, an n-gram repetition filter, and MinHash LSH near-dup
# clusters by label propagation to a fixpoint.  q31/q118/q32/q146 are left
# out: their shuffle bytes change from run to run (range-partition sampling
# seeded by the RDD id), which the traced run's repeat check would flag.
CURATE_QUERIES = ["q29_exact_dedup", "q57_repetition_filter", "q59_dup_clusters"]
SMOKE_CURATE_QUERIES = ["q29_exact_dedup", "q59_dup_clusters"]


# Cached inputs are keyed by this file's content too.
with open(__file__, "rb") as _f:
    _VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def generate(workload, scale, seed, testdata, work):
    """Return the manifest of the cached inputs, generating them first if
    this (workload, scale, seed) has not been generated in `work` yet."""
    out = os.path.join(work, "inputs", f"{workload}-{scale}-s{seed}-{_VERSION}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cfg = SCALES[scale]
    fn = {"ingest": _ingest, "curate": _curate, "adhoc": _adhoc}[workload]
    manifest = fn(cfg, scale, seed, testdata, tmp)
    manifest = _relocate(manifest, tmp, out)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return manifest


def _relocate(obj, old, new):
    if isinstance(obj, str):
        return obj.replace(old, new)
    if isinstance(obj, list):
        return [_relocate(x, old, new) for x in obj]
    if isinstance(obj, dict):
        return {k: _relocate(v, old, new) for k, v in obj.items()}
    return obj


# ---------------------------------------------------------------- ingest

def _day_dir(root, env, entity, day):
    return os.path.join(root, f"environment={env}", entity,
                        f"{day.year:04d}", f"{day.month:02d}", f"{day.day:02d}")


def _ingest(cfg, scale, seed, testdata, out):
    rng = random.Random(seed)
    src = os.path.join(testdata, cfg["ingest_sf"])
    root = os.path.join(out, "drops")
    staged = os.path.join(out, "nextday")
    con = _con()
    days = [D0 + dt.timedelta(days=i) for i in range(INGEST_DAYS)]
    next_day = D0 + dt.timedelta(days=INGEST_DAYS)
    # (BE, Customer) gets no next-day drop: it goes stale; (NL, Orders)
    # neither, but a grace rule exempts it.
    no_next = {("BE", "Customer"), ("NL", "Orders")}
    expect = {"rows_cold": 0, "rows_incr": 0, "files_cold": [],
              "files_incr": [], "decoys": [], "tables": {}}
    input_bytes = 0
    input_rows = 0
    tables_cfg = []
    for entity, (table, key, columns, select) in ENTITIES.items():
        target = "cig_" + entity.lower()
        tables_cfg.append({"target_name": target, "source": entity,
                           "is_enabled": True, "columns": columns})
        frac = cfg["ingest_fraction"]
        con.execute(f"""CREATE OR REPLACE TABLE dirty AS
            SELECT * FROM (
              SELECT {select},
                     (hash({key}, {seed}) % 1000000) / 1000000.0 AS u
              FROM (SELECT *, CAST(hash({key}, {seed} + 1) % 1000000 AS BIGINT) AS h
                    FROM '{src}/{table}.parquet'))
            WHERE u < {frac}
            ORDER BY u""")
        # Every day holds the same share of the table (so the cold and the
        # incremental run see the same volume whatever the seed); within a
        # day, its (environment, file) drops get Pareto-distributed sizes.
        # Two files per drop: per-file costs do not vary with the seed.
        drops = []
        for day in days + [next_day]:
            envs = [e for e in ENVS if not (day == next_day and (e, entity) in no_next)]
            if envs:
                ws = [rng.paretovariate(2.0) for _ in range(2 * len(envs))]
                drops.append([(env, day, i, ws[2 * k + i] / sum(ws))
                              for k, env in enumerate(envs) for i in range(2)])
        drops = [(env, day, i, w * frac / len(drops)) for day_drops in drops
                 for env, day, i, w in day_drops]
        lo = 0.0
        nullable = [c.split(":")[0] for c in columns
                    if not c.endswith(":notnull") and c.split(":")[0] in
                    {d[0] for d in con.execute("DESCRIBE dirty").fetchall()}]
        null_expect = {c: 0 for c in nullable}
        col_names = [d[0] for d in con.execute("DESCRIBE dirty").fetchall()
                     if d[0] != "u"]
        table_rows = 0
        for j, (env, day, i, w) in enumerate(drops):
            hi = 1.0 if j == len(drops) - 1 else lo + w
            rel = con.execute(
                f"SELECT {', '.join(col_names)} FROM dirty "
                f"WHERE u >= {lo} AND u < {hi}").arrow()
            lo = hi
            base = staged if day == next_day else root
            path = os.path.join(_day_dir(base, env, entity, day),
                                f"part-{i:02d}.parquet")
            _write(path, rel)
            n = rel.num_rows
            for c in nullable:
                col = rel.column(c)
                null_expect[c] += col.null_count + pc.sum(
                    pc.is_in(col, value_set=pa.array(SENTINELS))).as_py() or 0
            input_bytes += os.path.getsize(path)
            input_rows += n
            table_rows += n
            if day == next_day:
                dest = path.replace(staged, root)
                expect["files_incr"].append([path, dest])
                expect["rows_incr"] += n
            else:
                expect["files_cold"].append(path)
                expect["rows_cold"] += n
        # T1 defaults configured-but-missing columns to NULL; T7 forces Logo
        # to NULL: every ingested row has them NULL.
        for c in columns:
            name = c.split(":")[0]
            if name in ("MissingCol", "Logo"):
                null_expect[name] = "all"
        expect["tables"][target] = {
            "columns": [c.split(":")[0] for c in columns],
            "nulls": null_expect, "rows": table_rows}
        # Decoys: a day before the ingestion date, a foreign environment,
        # and a malformed (non-date) path, each holding a slice of the table.
        sample = con.execute(
            f"SELECT {', '.join(col_names)} FROM dirty LIMIT 50").arrow()
        for path in [
                os.path.join(_day_dir(root, ENVS[0], entity, D0 - dt.timedelta(days=1)), "part-00.parquet"),
                os.path.join(_day_dir(root, FOREIGN_ENV, entity, D0), "part-00.parquet"),
                os.path.join(root, f"environment={ENVS[1]}", entity, "2019", "07", "latest", "part-00.parquet")]:
            _write(path, sample)
            expect["decoys"].append(path)
    # the disabled table has drops of its own
    entity, table, key, columns, select = DISABLED
    tables_cfg.append({"target_name": "cig_" + entity.lower(), "source": entity,
                       "is_enabled": False, "columns": columns})
    sample = con.execute(f"SELECT {select} FROM '{src}/{table}.parquet' LIMIT 50").arrow()
    for env in ENVS:
        path = os.path.join(_day_dir(root, env, entity, D0), "part-00.parquet")
        _write(path, sample)
        expect["decoys"].append(path)
    today = next_day
    expect["stale"] = [["BE", "Customer", (next_day - dt.timedelta(days=1)).isoformat()]]
    tables_json = os.path.join(out, "cig_tables.json")
    with open(tables_json, "w") as f:
        json.dump(tables_cfg, f, indent=1)
    return {
        "workload": "ingest", "scale": scale, "seed": seed,
        "data_root": root, "tables_json": tables_json,
        "environments": ENVS, "ingestion_date": D0.isoformat(),
        "freshness": {"today": today.isoformat(),
                      "grace": [["NL", "Orders", 2]],
                      "static": [["NL", "Customer", D0.isoformat()]]},
        "expect": expect,
        "sizes": {"input_files": len(expect["files_cold"]) + len(expect["files_incr"]),
                  "decoy_files": len(expect["decoys"]),
                  "input_rows": input_rows, "input_bytes": input_bytes,
                  "ingested_bytes": input_bytes},
    }


# ---------------------------------------------------------------- curate

def _edit(tokens, rng, vocab):
    t = list(tokens)
    for _ in range(rng.randint(1, 3)):
        op = rng.random()
        pos = rng.randrange(len(t)) if t else 0
        if op < 0.4 and t:
            t[pos] = rng.choice(vocab)
        elif op < 0.7 and len(t) > 1:
            del t[pos]
        else:
            t.insert(pos, rng.choice(vocab))
    return t


def _curate(cfg, scale, seed, testdata, out):
    rng = random.Random(seed)
    src = os.path.join(testdata, cfg["curate_sf"], "documents.parquet")
    base = pq.read_table(src).to_pylist()
    base.sort(key=lambda r: r["doc_id"])
    picked = rng.sample(base, min(cfg["curate_base_docs"], len(base)))
    vocab = sorted({w for r in picked for w in r["text"].split()})
    docs = []
    n_variants = n_exact = 0
    for r in picked:
        docs.append((r["text"], r["lang"], r["source"]))
        if rng.random() < cfg["curate_variant_share"]:
            # small clusters: 1-2 near-duplicates, sometimes an exact copy
            for _ in range(rng.randint(1, 2)):
                text = " ".join(_edit(r["text"].split(), rng, vocab))
                docs.append((text, r["lang"], r["source"]))
                n_variants += 1
            if rng.random() < 0.2:
                docs.append((r["text"], r["lang"], r["source"]))
                n_exact += 1
    rng.shuffle(docs)
    table = pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": pa.array([d[0] for d in docs], pa.string()),
        "lang": pa.array([d[1] for d in docs], pa.string()),
        "source": pa.array([d[2] for d in docs], pa.string()),
        "n_chars": pa.array([len(d[0]) for d in docs], pa.int64()),
    })
    path = os.path.join(out, "documents.parquet")
    _write(path, table)
    return {
        "workload": "curate", "scale": scale, "seed": seed, "sf_dir": out,
        "tables": ["documents"],
        "queries": SMOKE_CURATE_QUERIES if scale == "smoke" else CURATE_QUERIES,
        "clients": 1,
        "sizes": {"docs": len(docs), "base_docs": len(picked),
                  "near_dup_variants": n_variants, "exact_copies": n_exact,
                  "duplication_rate": (n_variants + n_exact) / len(docs),
                  "input_bytes": os.path.getsize(path)},
    }


# ----------------------------------------------------------------- adhoc

def _adhoc(cfg, scale, seed, testdata, out):
    rng = random.Random(seed)
    src = os.path.join(testdata, cfg["adhoc_sf"])
    con = _con()
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    rows = {t: con.execute(f"SELECT count(*) FROM '{src}/{t}.parquet'").fetchone()[0]
            for t in tables}
    # every pool query once, in seeded order: the work of a batch does not
    # depend on the seed, its interleaving across the clients does
    batch = list(ADHOC_POOL[:cfg["adhoc_pool"]])
    rng.shuffle(batch)
    return {
        "workload": "adhoc", "scale": scale, "seed": seed, "sf_dir": src,
        "tables": tables, "queries": batch, "clients": 2,
        "sizes": {"rows": rows, "batch": len(batch),
                  "distinct_queries": len(set(batch)),
                  "input_bytes": sum(os.path.getsize(f"{src}/{t}.parquet") for t in tables)},
    }
