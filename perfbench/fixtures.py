"""Seeded inputs for the benchmark's workloads, cached by seed under
.bench_build/data. Everything is generated with DuckDB from the sf0.1
corpus, so the program under test only ever sees the generated files.

- catalog: the corpus itself, copied once (the seed orders the queries).
- migrate: a seeded sample of orders with a few exact duplicate rows for
           the keyed dedup, an upsert batch of changed and new orders,
           and the customer and documents tables.
"""
import os
import re
import shutil
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
DATA = ROOT / ".bench_build" / "data"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# migrate shape, in rows, the same for every seed: sampled orders, exact
# duplicate rows added for the keyed dedup, and the upsert batch of
# changed and new orders (7% + 3% of the sample)
MIGRATE_ORDERS = 7500
MIGRATE_DUPS = 375
MIGRATE_CHANGED = 525
MIGRATE_NEW = 225


class FixtureError(Exception):
    pass


def corpus_dir():
    """The sf0.1 corpus: $SPARK_GRAFT_SF_DIR, else the sf 0.1 row of TESTDATA.md."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        d = Path(env)
    else:
        doc = ROOT / "TESTDATA.md"
        m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text()) if doc.is_file() else None
        if not m:
            raise FixtureError("corpus not found: set SPARK_GRAFT_SF_DIR or keep TESTDATA.md")
        d = Path(m.group(1))
    missing = [t for t in TABLES if not (d / f"{t}.parquet").exists()]
    if missing:
        raise FixtureError(f"corpus {d} lacks tables {missing}")
    return d


def _copy_table(src, dest):
    if src.is_dir():
        shutil.copytree(src, dest)
    else:
        shutil.copyfile(src, dest)


def _finish(tmp, final):
    """Atomically publishes a fully written fixture directory."""
    (tmp / ".done").write_text("ok")
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return final


def _fresh(name):
    final = DATA / name
    if (final / ".done").is_file():
        return final, None
    tmp = DATA / f".{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    return final, tmp


def _copy(con, query, path):
    con.execute(f"COPY ({query}) TO '{path}' (FORMAT PARQUET)")


def catalog(seed):
    final, tmp = _fresh("catalog")
    if tmp is not None:
        src = corpus_dir()
        for t in TABLES:
            _copy_table(src / f"{t}.parquet", tmp / f"{t}.parquet")
        _finish(tmp, final)
    return final


def migrate(seed):
    """Seeded orders sample, its upsert batch, and customer and documents."""
    final, tmp = _fresh(f"migrate-{seed}")
    if tmp is None:
        return final
    src = corpus_dir()
    con = duckdb.connect()
    con.execute(f"""CREATE TABLE orders AS SELECT * FROM '{src}/orders.parquet'
                    ORDER BY hash(o_orderkey, {seed}::BIGINT) LIMIT {MIGRATE_ORDERS}""")

    def pick(salt, n):
        return f"(SELECT * FROM orders ORDER BY hash(o_orderkey, {seed}::BIGINT + {salt}) LIMIT {n})"
    _copy(con, f"SELECT * FROM orders UNION ALL SELECT * FROM {pick(1, MIGRATE_DUPS)} ORDER BY o_orderkey",
          tmp / "orders.parquet")
    max_key = con.execute(f"SELECT max(o_orderkey) FROM '{src}/orders.parquet'").fetchone()[0]
    _copy(con, f"""
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, round(o_totalprice * 1.1, 2) AS o_totalprice,
               o_orderdate, o_orderpriority FROM {pick(2, MIGRATE_CHANGED)}
        UNION ALL
        SELECT o_orderkey + {max_key} AS o_orderkey, o_custkey, 'N' AS o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority FROM {pick(3, MIGRATE_NEW)}
        ORDER BY o_orderkey""", tmp / "orders_batch.parquet")
    for t in ("customer", "documents"):
        _copy_table(src / f"{t}.parquet", tmp / f"{t}.parquet")
    return _finish(tmp, final)


PREPARE = {"catalog": catalog, "migrate": migrate}
