"""Correctness oracles built apart from the program: DuckDB BM25 over the
generated turns, ingest counts from the generated files and the index's own
parquet tables, and numpy cosine for vector probes. Each ``check_*`` returns
a list of error strings; an empty list means the result is correct."""

from __future__ import annotations

import numpy as np
import pyarrow.dataset as ds

K1, B = 1.2, 0.75
SCORE_TOL = 1e-6  # engine vs oracle score, absolute
TIE_TOL = 1e-9  # scores this close are a tie, so their ids may come in any order
COS_TOL = 2e-6  # engine rounds cosine to 6 decimals

# the engine's ascii tokenizer rule: [A-Za-z0-9]+ runs, lowercased
TOKENIZE_SQL = (
    "list_transform(list_filter(regexp_split_to_array({col}, '[^A-Za-z0-9]+'),"
    " t -> t <> ''), t -> lower(t))"
)


def _docs_sql(files: list[str]) -> str:
    paths = ", ".join(f"'{p}'" for p in files)
    tok = TOKENIZE_SQL.format(col="doc")
    return f"""
        WITH turns AS (
            SELECT conv_id, turn_idx, text FROM read_parquet([{paths}])
            WHERE text IS NOT NULL AND text <> ''),
        assembled AS (
            SELECT conv_id, count(*) AS n_turns,
                   string_agg(text, ' ' ORDER BY turn_idx) AS doc
            FROM turns GROUP BY conv_id),
        tokenized AS (SELECT conv_id, n_turns, {tok} AS toks FROM assembled)
        SELECT conv_id, n_turns, toks, len(toks) AS dl FROM tokenized WHERE len(toks) > 0
    """


def bm25_expected(files: list[str], queries: list[str], k: int) -> list[list[tuple[str, float]]]:
    """Top-(k+5) (conv_id, score) per query over the documents assembled from
    ``files``; ties broken by score DESC then conv_id ASC (the generator's
    conv_ids sort in doc_id order). The extra rows let a tie at rank k match."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE TEMP TABLE d AS {_docs_sql(files)}")
        con.execute("CREATE TEMP TABLE q (qid INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO q VALUES (?, ?)", list(enumerate(queries)))
        tok = TOKENIZE_SQL.format(col="text")
        rows = con.execute(f"""
            WITH qterms AS (SELECT DISTINCT qid, unnest({tok}) AS term FROM q),
            stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM d),
            occ AS (SELECT conv_id, dl, unnest(toks) AS term FROM d),
            tf AS (SELECT conv_id, dl, term, count(*)::DOUBLE AS tf FROM occ
                   WHERE term IN (SELECT term FROM qterms) GROUP BY ALL),
            df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
            scored AS (
                SELECT qt.qid, tf.conv_id,
                       sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                           * tf.tf * ({K1} + 1)
                           / (tf.tf + {K1} * (1 - {B} + {B} * tf.dl / s.avgdl))) AS score
                FROM qterms qt JOIN tf USING (term) JOIN df USING (term), stats s
                GROUP BY qt.qid, tf.conv_id),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, conv_id) AS rn
                FROM scored)
            SELECT qid, conv_id, score FROM ranked WHERE rn <= {k + 5} ORDER BY qid, rn
        """).fetchall()
    finally:
        con.close()
    out: list[list[tuple[str, float]]] = [[] for _ in queries]
    for qid, conv_id, score in rows:
        out[qid].append((conv_id, float(score)))
    return out


def compare_topk(actual: list[tuple], expected: list[tuple], k: int, tol: float) -> list[str]:
    """Rank-by-rank comparison of (id, score) lists. ``expected`` may hold
    extra rows past k, so that ids tied with the k-th score still match."""
    want = min(k, len(expected))
    if len(actual) != want:
        return [f"{len(actual)} rows, expected {want}"]
    if len({a[0] for a in actual}) != len(actual):
        return ["duplicate ids"]
    errs = []
    for i, (aid, ascore) in enumerate(actual):
        eid, escore = expected[i]
        if abs(ascore - escore) > tol:
            errs.append(f"rank {i + 1}: score {ascore!r} != {escore!r}")
        elif aid != eid:
            tied = {x[0] for x in expected if abs(x[1] - escore) <= TIE_TOL}
            if aid not in tied:
                errs.append(f"rank {i + 1}: id {aid!r} != {eid!r}")
    return errs


# ------------------------------------------------------------------ ingest

def expected_counts(files: list[str]) -> dict[str, int]:
    """Documents and turns the engine should index from ``files``: documents
    with at least one token, and their non-empty turns."""
    import duckdb

    con = duckdb.connect()
    try:
        n_docs, n_turns = con.execute(
            f"SELECT count(*), coalesce(sum(n_turns), 0) FROM ({_docs_sql(files)})"
        ).fetchone()
    finally:
        con.close()
    return {"n_docs": int(n_docs), "n_turns": int(n_turns)}


def index_counts(index_dir: str) -> dict[str, int]:
    """Counts read straight from the index's parquet tables."""
    def table(name):
        return ds.dataset(f"{index_dir}/{name}", format="parquet", partitioning="hive").to_table()

    return {
        "lineage_n_turns": int(table("lineage").column("n_turns").to_numpy().sum()),
        "docmap_rows": table("docmap").num_rows,
        "stats_n_docs": int(table("stats").column("n_docs")[0].as_py()),
    }


def check_ingest(got: dict[str, int], want: dict[str, int]) -> list[str]:
    pairs = (("lineage_n_turns", "n_turns"), ("docmap_rows", "n_docs"), ("stats_n_docs", "n_docs"))
    return [f"ingest {g}={got[g]} != {want[w]}" for g, w in pairs if got[g] != want[w]]


# ----------------------------------------------------------------- vectors

class VectorOracle:
    """Exact cosine over every indexed vector (float64 from the float32
    inputs, as the engine computes it)."""

    def __init__(self):
        self.ids = np.empty(0, dtype=np.int64)
        self.mat = np.empty((0, 0))
        self.norms = np.empty(0)

    def add(self, ids: np.ndarray, mat: np.ndarray) -> None:
        mat = mat.astype(np.float64)
        self.ids = np.concatenate([self.ids, ids.astype(np.int64)])
        self.mat = mat if not len(self.mat) else np.vstack([self.mat, mat])
        self.norms = np.linalg.norm(self.mat, axis=1)
        self._row = {int(v): i for i, v in enumerate(self.ids)}

    def snapshot(self) -> int:
        """Number of vectors indexed now; results are checked against it."""
        return len(self.ids)

    def cos(self, q: np.ndarray, n: int) -> np.ndarray:
        q = np.asarray(q, dtype=np.float64)
        return np.round((self.mat[:n] @ q) / (self.norms[:n] * np.linalg.norm(q)), 6)

    def exact_topk(self, q: np.ndarray, n: int, k: int) -> list[tuple[int, float]]:
        c = self.cos(q, n)
        order = np.lexsort((self.ids[:n], -c))[: k + 5]
        return [(int(self.ids[i]), float(c[i])) for i in order]

    def check_rows(self, q: np.ndarray, n: int, rows: list[tuple[int, float]]) -> list[str]:
        """Every returned row is an indexed vector with its true cosine."""
        q = np.asarray(q, dtype=np.float64)
        qn = np.linalg.norm(q)
        errs = []
        for vid, cos in rows:
            i = self._row.get(int(vid))
            if i is None or i >= n:
                errs.append(f"vec {vid} not indexed")
                continue
            true = float(self.mat[i] @ q) / (self.norms[i] * qn)
            if abs(true - cos) > COS_TOL:
                errs.append(f"vec {vid}: cos {cos!r} != {true!r}")
        return errs

    def recall(self, q: np.ndarray, n: int, rows: list[tuple[int, float]], k: int) -> float:
        exact = {v for v, _ in self.exact_topk(q, n, k)[:k]}
        return len(exact & {int(v) for v, _ in rows}) / k


def check_exhaustive(got: list[tuple[int, float]], exact: list[tuple[int, float]], k: int) -> list[str]:
    return [f"exhaustive probe: {e}" for e in compare_topk(got, exact, k, COS_TOL)]


def check_self_first(vid: int, got: list[tuple[int, float]]) -> list[str]:
    if not got or int(got[0][0]) != vid:
        return [f"synced vector {vid} is not its own first hit: {got[:2]}"]
    return []
