"""Output checks for the query workloads.

The first pass's output of each query is compared with DuckDB running
the query's `SparkEntry.oracleSql` over the same input, with the
canonicalisation of scripts/check.py (columns sorted by name, rows sorted,
values compared as strings). Every later pass must produce the same rows
as the first: its order-independent digest must equal the first pass's.
Expected results are cached per input directory and SQL text.
"""
import glob
import hashlib
import importlib.util
import os
import pickle
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".bench_build" / "oracle"


def _check_module():
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "scripts" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    def __init__(self, data_dir):
        self.check = _check_module()
        self.data_dir = Path(data_dir)
        self.con = duckdb.connect()
        for t in self.check.TABLES:
            p = self.data_dir / f"{t}.parquet"
            if p.exists():
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def expected(self, name, sql):
        """The canonical expected result, computed once per input and SQL."""
        key = hashlib.sha256(f"{self.data_dir.name}\n{sql}".encode()).hexdigest()[:24]
        path = CACHE / self.data_dir.name / f"{name}-{key}.pkl"
        if path.is_file():
            return pickle.loads(path.read_bytes())
        exp = self.check.canon(self.con.execute(sql).df())
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_bytes(pickle.dumps(exp))
        tmp.rename(path)
        return exp

    @staticmethod
    def _files(out_dir):
        files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet output in {out_dir}")
        return files

    def compare(self, out_dir, exp):
        """None when the output matches the expected frame, else why not."""
        got = self.check.canon(self.con.execute(
            f"SELECT * FROM read_parquet({self._files(out_dir)!r})").df())
        if len(got) != len(exp):
            return f"rows {len(got)} != expected {len(exp)}"
        if list(got.columns) != list(exp.columns):
            return f"columns {list(got.columns)} != expected {list(exp.columns)}"
        if any(str(a) != str(b) for a, b in zip(got.dtypes, exp.dtypes)):
            return f"dtypes {list(map(str, got.dtypes))} != expected {list(map(str, exp.dtypes))}"
        if not got.astype(str).equals(exp.astype(str)):
            return "values differ"
        return None

    def digest(self, out_dir):
        """(rows, hash sum, hash xor) of the output, independent of row order."""
        return self.con.execute(
            "SELECT count(*), sum(hash(t) % 1000000007), bit_xor(hash(t)) "
            f"FROM read_parquet({self._files(out_dir)!r}) t").fetchone()
