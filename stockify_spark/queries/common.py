"""Oracle fragments and helpers shared by several domain modules."""

from __future__ import annotations

import os
import shutil
import tempfile

from stockify_spark.functions.text import LANG_PROFILES


_TOKS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"

_IN = lambda words: "(" + ",".join(f"'{w}'" for w in words) + ")"  # noqa: E731

_LANG_COUNT = {
    lang: f"len(list_filter({_TOKS_SQL}, x -> x IN {_IN(sw)}))" for lang, sw in LANG_PROFILES.items()
}

_CHUNK_W, _CHUNK_S = 64, 48


def _scratch_table(sf_dir: str, tag: str, build, src_file: str = "orders.parquet") -> str:
    """Deterministic scratch txlog table keyed on (tag, sf_dir,
    source fingerprint), built once and REUSED by later invocations —
    repeated driver verification and bench iterations previously
    mkdtemp'd a fresh parquet copy of orders per call and never
    cleaned up (unbounded /tmp growth; the dirs can't be deleted
    eagerly because the returned plan reads them lazily).

    The key includes a FINGERPRINT of the source parquet (size +
    mtime of orders.parquet): the driver has regenerated
    its test data in place across rounds, and a cache keyed on the
    path alone would keep serving tables built from data that no
    longer exists while the oracle reads the new parquet — every
    txlog query would hash-mismatch with no local signal. A new
    vintage gets a new directory; stale vintages and orphaned
    staging dirs of the same (tag, sf) are swept on the way.

    The build lands in a unique staging dir and is os.rename'd into
    place, so a concurrent builder of the same table can't observe a
    half-built lifecycle: one rename wins, the loser's staging copy
    is discarded."""
    import glob as _glob
    import uuid as _uuid

    key = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
    # fingerprint the parquet the BUILD actually reads (callers whose
    # scripted history reads a different table pass it via src_file —
    # a stale cache keyed on the wrong source would keep serving a
    # table built from data the oracle no longer sees)
    src = os.path.join(sf_dir, src_file)
    st = os.stat(src)
    fp = f"{st.st_size:x}.{st.st_mtime_ns:x}"
    base = os.path.join(tempfile.gettempdir(), f"stockify_txlog_{tag}_{key}")
    path = f"{base}_{fp}"
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        return path
    # sweep stale vintages (and their crashed builders' staging
    # dirs); never touch the CURRENT fingerprint's namespace — a
    # concurrent builder of the same vintage may be mid-write there
    for old in _glob.glob(base + "_*"):
        if not old.startswith(path):
            shutil.rmtree(old, ignore_errors=True)
    staging = path + ".staging." + _uuid.uuid4().hex
    try:
        build(staging)
        with open(os.path.join(staging, "_COMPLETE"), "w") as f:
            f.write("ok")
        try:
            os.rename(staging, path)
        except OSError:  # lost the race — another process built it
            pass
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return path


_PPL_SQL = """
WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
  FROM documents),
tri AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2, ts[i+2] AS w3
  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM tok
        WHERE len(ts) >= 3)),
tcnt AS (SELECT w1, w2, w3, COUNT(*) AS n FROM tri GROUP BY 1, 2, 3),
bcnt AS (SELECT w1, w2, COUNT(*) AS cn FROM tri GROUP BY 1, 2),
v AS (SELECT COUNT(DISTINCT w3) AS vsz FROM tri),
scored AS (
  SELECT t.doc_id, ln((c.n + 1.0) / (b.cn + v.vsz)) AS logp
  FROM tri t
  JOIN tcnt c ON c.w1 = t.w1 AND c.w2 = t.w2 AND c.w3 = t.w3
  JOIN bcnt b ON b.w1 = t.w1 AND b.w2 = t.w2
  CROSS JOIN v)
SELECT doc_id, COUNT(*)::BIGINT AS n_trigrams,
       ROUND(exp(-AVG(logp)), 4) AS ppl
FROM scored GROUP BY doc_id
"""

_N_ROWS = 1800

_SERIES_LEN = 180

_RAMP_CLOSE = f"""
  SELECT i AS row_id, CAST(500 + (i % 18) * 10 AS DOUBLE) AS close
  FROM range({_N_ROWS}) t(i)
"""

_STOP_WORDS = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

_PRED_SQL = f"""CASE
 WHEN {_LANG_COUNT['de']} > GREATEST({_LANG_COUNT['en']}, {_LANG_COUNT['es']}, {_LANG_COUNT['fr']}) THEN 'de'
 WHEN {_LANG_COUNT['fr']} > GREATEST({_LANG_COUNT['en']}, {_LANG_COUNT['es']}) THEN 'fr'
 WHEN {_LANG_COUNT['es']} > {_LANG_COUNT['en']} THEN 'es'
 WHEN {_LANG_COUNT['en']} > 0 THEN 'en'
 ELSE 'unknown' END"""


def _pca_front(iters: int, k: int) -> str:
    """Shared oracle front: covariance c1, then per component c the
    unrolled power rounds r{c}_{t}, Rayleigh ev{c}, and the deflated
    c{c+1} — llm/pca._power_deflate verbatim in SQL."""
    sql = """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
nn AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n, len(any_value(v)) AS d FROM e),
mu AS MATERIALIZED (SELECT i, SUM(v[i]) / (SELECT n FROM nn) AS m
       FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u
       GROUP BY i),
c1 AS MATERIALIZED (SELECT g.i, g.j,
             ROUND(g.s / (SELECT n FROM nn) - mi.m * mj.m, 9) AS c
      FROM (SELECT ui.i, uj.j, SUM(v[ui.i] * v[uj.j]) AS s
            FROM e,
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) ui,
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS j) uj
            GROUP BY ui.i, uj.j) g
      JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j)"""
    for comp in range(1, k + 1):
        sql += f""",
r{comp}_0 AS (SELECT i, 1.0 / sqrt((SELECT d FROM nn)) AS r FROM mu)"""
        for t in range(1, iters + 1):
            sql += f""",
y{comp}_{t} AS MATERIALIZED (SELECT c.i, SUM(c.c * r.r) AS y
         FROM c{comp} c JOIN r{comp}_{t - 1} r ON r.i = c.j GROUP BY c.i),
r{comp}_{t} AS MATERIALIZED (SELECT i,
         ROUND(y / sqrt((SELECT SUM(y * y) FROM y{comp}_{t})), 9) AS r
         FROM y{comp}_{t})"""
        sql += f""",
ev{comp} AS MATERIALIZED (SELECT ROUND(SUM(c.c * ra.r * rb.r), 6) AS ev
       FROM c{comp} c JOIN r{comp}_{iters} ra ON ra.i = c.i
       JOIN r{comp}_{iters} rb ON rb.i = c.j)"""
        if comp < k:
            sql += f""",
c{comp + 1} AS MATERIALIZED (SELECT c.i, c.j,
       ROUND(c.c - (SELECT ev FROM ev{comp}) * ra.r * rb.r, 9) AS c
       FROM c{comp} c JOIN r{comp}_{iters} ra ON ra.i = c.i
       JOIN r{comp}_{iters} rb ON rb.i = c.j)"""
    return sql
