"""Output checks for one warm-up pass.

Every query of a mix is checked once per run:

- a query with an entry in the program's ``oracle_sql()`` is compared with
  DuckDB running that SQL over the same parquet files: same columns, same
  row count, same order-insensitive values (floats to 6 decimals);
- the rows-only sketch queries are held to the recall floors of
  ``tests/test_sketches.py`` against the exact query they approximate,
  whose own result comes from DuckDB running its oracle SQL.
"""

from __future__ import annotations

import math
import os
import threading

import duckdb

#: Floors mirrored from tests/test_sketches.py.
MINHASH_RECALL_FLOOR = 0.8
ANN_RECALL_FLOOR = 0.6


def connect(data_dir: str, threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for entry in sorted(os.listdir(data_dir)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, entry)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{src}')")
    return con


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def _text_cols(cols: list[str], types: dict[str, str]) -> str:
    """SQL projecting ``cols`` to comparable text: floats to 6 decimals (as
    ``_norm`` does in Python), NaN as NULL, timestamps in UTC."""
    out = []
    for c in cols:
        q, t = f'"{c}"', types[c].upper()
        if t in ("DOUBLE", "FLOAT", "REAL"):
            expr = f"CASE WHEN isnan({q}) THEN NULL ELSE printf('%.6f', {q}) END"
        elif t.startswith("TIMESTAMP WITH TIME ZONE"):
            expr = f"CAST(timezone('UTC', {q}) AS VARCHAR)"
        else:
            expr = f"CAST({q} AS VARCHAR)"
        out.append(f"coalesce({expr}, 'NULL') AS {q}")
    return ", ".join(out)


def _duck(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _spark_rows(table) -> tuple[list[str], list[tuple]]:
    """(columns, row tuples) of a pyarrow Table from DataFrame.toArrow()."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if cols else []


#: Exact queries whose oracle results the rows-only sketch checks compare with.
REFERENCES = {
    "minhash_near_dups": "ngram_jaccard_pairs",
    "simhash_near_dups": "ngram_jaccard_pairs",
    "ann_lsh_topk": "cosine_topk",
}


class Checker:
    """Checks query results against oracle results.

    The oracle SQL for every query of the mix (and the exact queries the
    sketch checks need) runs on a background thread into tables of the
    in-memory DuckDB database, so DuckDB works while Spark runs the untimed
    warm-up pass. ``close()`` joins the thread; call it before timing.
    """

    def __init__(self, con, oracles: dict[str, str], names: list[str]):
        self.con = con
        self.oracles = oracles
        needed = [n for q in names for n in (REFERENCES.get(q), q) if n in oracles]
        self._needed = list(dict.fromkeys(needed))
        self._ready = {n: threading.Event() for n in self._needed}
        self._errors: dict[str, str] = {}
        self._thread = threading.Thread(target=self._materialize, name="oracle", daemon=True)
        self._thread.start()

    def _materialize(self) -> None:
        cur = self.con.cursor()
        try:
            for n in self._needed:
                try:
                    cur.execute(f"CREATE TABLE oracle_{n} AS {self.oracles[n]}")
                except duckdb.Error as e:
                    self._errors[n] = f"duckdb error {e}"
                finally:
                    self._ready[n].set()
        finally:
            cur.close()

    def close(self) -> None:
        self._thread.join()

    def _oracle_table(self, name: str) -> str:
        self._ready[name].wait()
        if name in self._errors:
            raise RuntimeError(f"{name}: {self._errors[name]}")
        return f"oracle_{name}"

    def _reference(self, name: str) -> tuple[list[str], list[tuple]]:
        return _duck(self.con, f"SELECT * FROM {self._oracle_table(name)}")

    def check(self, name: str, table) -> str | None:
        """Return None when ``table`` (a pyarrow Table) is right, else why not."""
        if name in self.oracles:
            return self._against_oracle(name, table)
        cols, rows = _spark_rows(table)
        if name == "minhash_near_dups":
            return self._minhash(cols, rows)
        if name == "simhash_near_dups":
            return self._simhash(cols, rows)
        if name == "ann_lsh_topk":
            return self._ann(cols, rows)
        return f"{name}: no oracle and no recall check"

    def _against_oracle(self, name, table) -> str | None:
        """Compare inside DuckDB: both sides projected to text with floats
        at 6 decimals and timestamps in UTC, then EXCEPT ALL both ways."""
        oracle = self._oracle_table(name)
        self.con.register("spark_result", table)
        try:
            stypes = dict(self.con.execute("SELECT column_name, column_type FROM (DESCRIBE spark_result)").fetchall())
            otypes = dict(self.con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {oracle})").fetchall())
            scols = sorted(stypes)
            if scols != sorted(otypes):
                return f"{name}: columns spark={scols} oracle={sorted(otypes)}"
            s_sql = f"SELECT {_text_cols(scols, stypes)} FROM spark_result"
            o_sql = f"SELECT {_text_cols(scols, otypes)} FROM {oracle}"
            n_s, n_o = (self.con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0] for q in (s_sql, o_sql))
            if n_s != n_o:
                return f"{name}: rows spark={n_s} oracle={n_o}"
            diff = self.con.execute(f"({s_sql}) EXCEPT ALL ({o_sql}) LIMIT 1").fetchall()
            if diff:
                other = self.con.execute(f"({o_sql}) EXCEPT ALL ({s_sql}) LIMIT 1").fetchall()
                return f"{name}: value mismatch: spark has {diff[0]}, oracle has {other[:1]}"
            return None
        finally:
            self.con.unregister("spark_result")

    def _exact_pairs(self) -> dict[tuple[int, int], float]:
        cols, rows = self._reference("ngram_jaccard_pairs")
        ia, ib, ij = cols.index("id_a"), cols.index("id_b"), cols.index("jaccard")
        return {(r[ia], r[ib]): _norm(r[ij]) for r in rows}

    def _minhash(self, cols, rows) -> str | None:
        exact = self._exact_pairs()
        if not exact:
            return "minhash_near_dups: corpus has no near-duplicate pairs; check is vacuous"
        ia, ib, ij = cols.index("id_a"), cols.index("id_b"), cols.index("jaccard")
        got = {(r[ia], r[ib]): _norm(r[ij]) for r in rows}
        extra = set(got) - set(exact)
        if extra:
            return f"minhash_near_dups: {len(extra)} pairs the exact Jaccard filter rejects, e.g. {min(extra)}"
        wrong = [p for p in got if got[p] != exact[p]]
        if wrong:
            return f"minhash_near_dups: jaccard differs from exact for {len(wrong)} pairs, e.g. {wrong[0]}"
        recall = len(got) / len(exact)
        if recall < MINHASH_RECALL_FLOOR:
            return f"minhash_near_dups: recall {recall:.3f} below {MINHASH_RECALL_FLOOR}"
        return None

    def _simhash(self, cols, rows) -> str | None:
        from social_media_big_data_analyzer_spark.queries.dedup import HAMMING_MAX

        if not rows:
            return "simhash_near_dups: no pairs"
        exact = self._exact_pairs()
        ia, ib, ih = cols.index("id_a"), cols.index("id_b"), cols.index("hamming")
        for r in rows:
            if not 0 <= r[ih] <= HAMMING_MAX:
                return f"simhash_near_dups: hamming {r[ih]} out of range for {(r[ia], r[ib])}"
            if (r[ia], r[ib]) not in exact:
                return f"simhash_near_dups: pair {(r[ia], r[ib])} is not a true near-duplicate"
        return None

    def _ann(self, cols, rows) -> str | None:
        ecols, erows = self._reference("cosine_topk")
        ep, ev = ecols.index("probe_id"), ecols.index("vec_id")
        exact = {(r[ep], r[ev]) for r in erows}
        ip, iv, ir, ic = (cols.index(c) for c in ("probe_id", "vec_id", "rank", "cos"))
        got = {(r[ip], r[iv]) for r in rows}
        recall = len(got & exact) / max(len(exact), 1)
        if recall < ANN_RECALL_FLOOR:
            return f"ann_lsh_topk: recall {recall:.3f} below {ANN_RECALL_FLOOR}"
        for r in rows:
            if r[ip] == r[iv] and (r[ir] != 1 or r[ic] != 1.0):
                return f"ann_lsh_topk: probe {r[ip]} does not find itself at rank 1"
        return None
