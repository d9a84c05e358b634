"""Corpus deduplication and LLM data-pipeline operators: exact,
near-duplicate and substring dedup, decontamination, mixing and
selection."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stockify_spark.functions.scale import spread_small_scan
from stockify_spark.functions.text import (
    fingerprint,
    quality_score,
    token_count,
    tokens,
)
from stockify_spark.llm.dedup import (
    MINHASH_P,
    connected_components,
    contaminated_spans,
    contamination_pairs,
    dedup_ingest_sink,
    duplicate_clusters,
    exact_dedup,
    keepone_substring_spans,
    minhash_lsh_pairs_seeded,
    minhash_seed_constants,
    near_dedup_ingest_sink,
    near_dedup_ingest_sink_indexed,
    ngram_jaccard_pairs,
    remove_repeated_spans,
    repeated_substring_spans,
    shingle_containment_pairs,
    simhash_near_dup_pairs_seeded,
)
from stockify_spark.llm.similarity import embedding_dup_pairs_bucketed
from stockify_spark.operators.windows import bucketed_prefix_sum
from stockify_spark.queries.common import (
    _CHUNK_S,
    _CHUNK_W,
    _PPL_SQL,
    _STOP_WORDS,
    _TOKS_SQL,
    _pca_front,
    _scratch_table,
)
from stockify_spark.queries.text import text_perplexity
from stockify_spark.registry import _t, register


@register(
    "dedup_exact",
    "SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,"
    " MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies FROM documents GROUP BY 1",
    bench="paired",
)
def dedup_exact(spark, sf_dir):
    return exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


_SHINGLES_SQL = (
    f"list_distinct(list_transform(range(greatest(len({_TOKS_SQL}) - 3, 0) + 1),"
    f" i -> array_to_string({_TOKS_SQL}[i + 1:i + 3], ' ')))"
)


# Deferred oracle: the brute-force all-pairs baseline burns the oracle
# budget, which inflates the next Spark iteration when interleaved.
@register(
    "dedup_ngram_jaccard",
    f"WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)"
    " SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
    " ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard"
    " FROM s a JOIN s b ON a.doc_id < b.doc_id"
    " WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5",
    bench="deferred",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs >= 0.5 via inverted-index join; the
    oracle brute-forces all pairs, proving candidate recall is 1.0."""
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", k=3, threshold=0.5)


def _minhash_oracle_sql(num_hashes: int = 32, bands: int = 16) -> str:
    """ANSI-SQL reproduction of minhash_lsh_pairs_seeded: the same
    (a_i, b_i) constants, the same md5-prefix base hash, the same
    band keys and exact-Jaccard verification — so the driver
    hash-checks which pairs band-collide AND verify."""

    a, b = minhash_seed_constants(num_hashes)
    r = num_hashes // bands
    mins = ", ".join(
        f"MIN(({a[i]} * hv + {b[i]}) % {MINHASH_P}) AS h{i}" for i in range(num_hashes)
    )
    bands_sql = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, CONCAT({key}) AS band_key FROM sig".format(
            b=bb,
            key=", ',', ".join(f"h{bb * r + j}" for j in range(r)),
        )
        for bb in range(bands)
    )
    return (
        f"WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),"
        " inv AS (SELECT doc_id, unnest(sh) AS tok FROM s),"
        " m AS (SELECT doc_id, CAST(CONCAT('0x', substr(md5(tok), 1, 15)) AS BIGINT)"
        f" % {MINHASH_P} AS hv FROM inv),"
        f" sig AS (SELECT doc_id, {mins} FROM m GROUP BY doc_id),"
        f" bands AS ({bands_sql}),"
        " cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a"
        " JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key"
        " AND a.doc_id < b.doc_id)"
        " SELECT id_a, id_b,"
        " ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard"
        " FROM cand JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b"
        " WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5",
    )[0]


# Deferred oracle: a 13 s DuckDB median; a burn that long right before
# a Spark iteration inflated the next reading 2.2 s -> 5.5 s.
@register("dedup_minhash_lsh", _minhash_oracle_sql(), bench="deferred")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs, deterministic cross-engine hash
    family (md5-prefix base + seeded linear permutations): the LSH
    banding semantics are hash-exact-checked against the SQL oracle.
    The xxhash64-based minhash_lsh_pairs stays the library fast path;
    its banding recall vs exact Jaccard is pinned in tests."""

    return minhash_lsh_pairs_seeded(
        _t(spark, sf_dir, "documents"), "text", "doc_id", num_hashes=32, bands=16, jaccard_threshold=0.5
    )


def _simhash_oracle_sql(n_bits: int = 60, n_bands: int = 4, max_hamming: int = 10) -> str:
    """ANSI-SQL reproduction of simhash_near_dup_pairs_seeded: 60-bit
    md5-prefix token hashes, per-bit ±1 majority, 15-bit pigeonhole
    bands, bit_count(xor) verification — all integer arithmetic, so
    the comparison is hash-exact."""
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    accs = ", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS a{b}"
        for b in range(n_bits)
    )
    sig = " + ".join(
        f"(CASE WHEN a{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(n_bits)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, sig, {c} AS band_id, (sig >> {c * band_bits}) & {mask} AS band_val FROM sig"
        for c in range(n_bands)
    )
    return (
        "WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),"
        " '\\s+')) AS tok FROM documents),"
        " m AS (SELECT doc_id, CAST(CONCAT('0x', substr(md5(tok), 1, 15)) AS BIGINT)"
        " AS hv FROM toks),"
        f" acc AS (SELECT doc_id, {accs} FROM m GROUP BY doc_id),"
        f" sig AS (SELECT doc_id, {sig} AS sig FROM acc),"
        f" bands AS ({bands}),"
        " cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,"
        " a.sig AS sig_a, b.sig AS sig_b FROM bands a"
        " JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val"
        " AND a.doc_id < b.doc_id)"
        " SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming"
        f" FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}"
    )


@register("dedup_simhash", _simhash_oracle_sql(), bench="paired")
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs, SQL-expressible 60-bit md5-prefix
    signature: banding and hamming verification are hash-exact-
    checked against the oracle (llm/dedup.simhash_near_dup_pairs_
    seeded — pure column expressions). The vectorized blake2b
    simhash stays the library fast path, bit-exactness vs its scalar
    reference pinned in tests."""

    return simhash_near_dup_pairs_seeded(
        _t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=10
    )


@register(
    "pipeline_clean_corpus",
    # language filter → quality gate → exact-dedup keeper selection,
    # as one composed plan (the end-to-end shape of a training-data
    # cleaning job)
    "WITH en AS (SELECT doc_id,"
    " md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,"
    " ROUND(LEAST(CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE) / 64.0, 1.0)"
    " * (CASE WHEN list_sum(list_transform(string_split_regex(trim(lower(text)), '\\s+'),"
    " x -> CAST(length(x) AS DOUBLE))) / len(string_split_regex(trim(lower(text)), '\\s+'))"
    " BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 6) AS q"
    " FROM documents WHERE lang = 'en')"
    " SELECT MIN(doc_id) AS doc_id FROM en WHERE q >= 0.5 GROUP BY fp",
    bench="paired",
)
def pipeline_clean_corpus(spark, sf_dir):
    """Composed cleaning pipeline: language filter → quality gate →
    exact dedup (deterministic min-id keeper). One declarative plan:
    the filters fuse into the scan, the only shuffle is the dedup
    groupBy on the fingerprint digest — the whole pipeline costs one
    pass + one hash shuffle at any corpus size."""

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    scored = docs.withColumn("q", quality_score("text")).filter(F.col("q") >= 0.5)
    return (
        scored.withColumn("fp", fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


_CLUSTER_SHINGLES = (
    "list_distinct(list_transform(range(greatest("
    "len(string_split_regex(trim(lower(text)), '\\s+')) - 3, 0) + 1),"
    " i -> array_to_string(string_split_regex(trim(lower(text)), '\\s+')[i + 1:i + 3], ' ')))"
)


# Deferred oracle: the recursive-CTE baseline is deliberately brute
# force and burns the oracle budget.
@register(
    "dedup_clusters",
    # near-dup pairs (brute-force jaccard) → transitive closure via a
    # recursive CTE: min reachable doc_id = component representative
    f"WITH RECURSIVE s AS (SELECT doc_id, {_CLUSTER_SHINGLES} AS sh FROM documents),"
    " pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM s a JOIN s b"
    " ON a.doc_id < b.doc_id WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),"
    " edges AS (SELECT id_a AS src, id_b AS dst FROM pairs"
    " UNION ALL SELECT id_b, id_a FROM pairs),"
    " reach(node, lab) AS (SELECT src, src FROM edges"
    " UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node)"
    " SELECT node AS doc_id, MIN(lab) AS component FROM reach GROUP BY node",
    bench="deferred",
)
def dedup_clusters(spark, sf_dir):
    """Near-duplicate clusters: jaccard>=0.5 pair edges → connected
    components (llm/dedup.connected_components, iterative min-label
    propagation). The oracle computes the same transitive closure
    with a recursive CTE, so the graph algorithm's fixpoint is
    differentially verified."""

    return duplicate_clusters(_t(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "dedup_embedding_clusters",
    # bucketed near-dup pairs (same deterministic IVF spec as
    # sim_embedding_dup) → transitive closure via a recursive CTE
    "WITH RECURSIVE c AS (SELECT vec_id AS cid, embedding AS cvec"
    " FROM embeddings WHERE vec_id < 16),"
    " s AS (SELECT vec_id, embedding, cid,"
    " ROW_NUMBER() OVER (PARTITION BY vec_id"
    " ORDER BY list_cosine_similarity(embedding, cvec) DESC, cid) AS rnk"
    " FROM embeddings CROSS JOIN c),"
    " pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b"
    " FROM (SELECT vec_id, embedding, cid FROM s WHERE rnk <= 3) a"
    " JOIN (SELECT vec_id, embedding, cid FROM s WHERE rnk <= 3) b"
    " ON a.cid = b.cid AND a.vec_id < b.vec_id"
    " WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),"
    " edges AS (SELECT id_a AS src, id_b AS dst FROM pairs"
    " UNION ALL SELECT id_b, id_a FROM pairs),"
    " reach(node, lab) AS (SELECT src, src FROM edges"
    " UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node)"
    " SELECT node AS vec_id, MIN(lab) AS component FROM reach GROUP BY node",
)
def dedup_embedding_clusters(spark, sf_dir):
    """Embedding near-duplicate CLUSTERS (SemDeDup shape): bucketed
    IVF candidate pairs → connected components, so each duplicate
    group keeps one representative. The same Pregel-lite min-label
    propagation as dedup_clusters, differentially verified against
    the recursive-CTE transitive closure over the identical
    deterministic pair spec."""

    emb = _t(spark, sf_dir, "embeddings")
    edges = embedding_dup_pairs_bucketed(emb, threshold=0.4, n_centroids=16, n_probe=3)
    return connected_components(edges).select(
        F.col("node").alias("vec_id"), "component"
    )


@register(
    "pipeline_token_pack",
    # greedy sequence packing: documents (in doc_id order) are
    # assigned to fixed-capacity context windows by their exclusive
    # running token count. Token counts are integers, so the prefix
    # sums are exact in any engine and the comparison is hash-exact.
    # the window SUM over BIGINT is HUGEINT in DuckDB, which degrades
    # to float64 in the driver's pandas path — CAST AS BIGINT keeps
    # start_tok/pack_id hash-type-stable against Spark's int64.
    "WITH t AS (SELECT doc_id,"
    " CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens"
    " FROM documents),"
    " c AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER ("
    " ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"
    " AS start_tok FROM t)"
    " SELECT doc_id, n_tokens, start_tok, CAST(start_tok // 2048 AS BIGINT) AS pack_id FROM c",
    bench="paired",
)
def pipeline_token_pack(spark, sf_dir):
    """LLM-pretraining sequence packing: each document lands in the
    context window (pack) where its starting token offset falls —
    concat-and-chunk over the corpus order. The running offset comes
    from operators.windows.bucketed_prefix_sum, the two-phase
    parallel scan: per-bucket totals, running offsets over the
    bucket-total table (bucket_size× smaller), within-bucket windows
    — the ORACLE is the plain global-order window, so the
    distributed scan is proven equal to the single-partition form.
    At 100 TB the row-scale data never funnels through one task."""

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    out = bucketed_prefix_sum(
        docs, "doc_id", "n_tokens", "start_tok", bucket_size=128, exclusive=True
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "start_tok",
        F.expr("start_tok div 2048").alias("pack_id"),
    )


_SHINGLE8_SQL = (
    f"list_distinct(list_transform(range(greatest(len({_TOKS_SQL}) - 8, 0) + 1),"
    f" i -> array_to_string({_TOKS_SQL}[i + 1:i + 8], ' ')))"
)


# Deferred oracle: a ~10 s DuckDB median, the same interleaving
# contamination as dedup_minhash_lsh.
@register(
    "pipeline_contamination",
    # The oracle names the identical candidate set because the
    # shingle hash is the cross-engine md5-prefix family.
    f"WITH d AS (SELECT doc_id, {_SHINGLE8_SQL} AS sh FROM documents),"
    " u AS (SELECT doc_id, CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT)"
    "  AS h FROM (SELECT doc_id, unnest(sh) AS s FROM d)),"
    " e AS (SELECT doc_id AS eval_id, h FROM u WHERE doc_id < 20),"
    " t AS (SELECT doc_id AS train_id, h FROM u WHERE doc_id >= 20)"
    " SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared"
    " FROM t JOIN e USING (h) GROUP BY train_id, eval_id",
    bench="deferred",
)
def pipeline_contamination(spark, sf_dir):
    """Benchmark contamination (llm/dedup.contamination_pairs): train
    docs sharing any 8-token shingle with the eval set (doc_id < 20
    plays the benchmark). The eval side broadcasts, so the training
    corpus never shuffles — the pre-training hygiene check at 100 TB
    is a map-side join against a few thousand benchmark shingles."""

    docs = _t(spark, sf_dir, "documents")
    return contamination_pairs(docs, "text", "doc_id", eval_max_id=20, k=8)


# ---------------------------------------------------------------------------
# PII redaction (pre-training hygiene). The synthetic corpus contains
# no organic PII, so the query plants a deterministic PII suffix per
# doc — identically in the Spark plan and the oracle SQL — and then
# redacts it: the MECHANISM (pattern match, count, replace, verify)
# is what's under test, with nonzero counts on every row.
# ---------------------------------------------------------------------------

# Java-regex / RE2 common-subset patterns.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PHONE_RE = r"\+\d{2}-\d{3}-\d{4,8}"


def _planted(doc_id):
    """The deterministic PII suffix for one doc — Spark side."""
    m = (doc_id % 250) + 1
    id7 = 1000000 + doc_id
    return F.concat(
        F.lit(" contact user"),
        doc_id.cast("string"),
        F.lit("@example-"),
        m.cast("string"),
        F.lit(".org or +49-555-"),
        id7.cast("string"),
        F.lit(" at 10."),
        m.cast("string"),
        F.lit("."),
        m.cast("string"),
        F.lit("."),
        m.cast("string"),
    )


_PLANTED_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example-'"
    " || CAST(doc_id % 250 + 1 AS VARCHAR) || '.org or +49-555-'"
    " || CAST(1000000 + doc_id AS VARCHAR)"
    " || ' at 10.' || CAST(doc_id % 250 + 1 AS VARCHAR)"
    " || '.' || CAST(doc_id % 250 + 1 AS VARCHAR)"
    " || '.' || CAST(doc_id % 250 + 1 AS VARCHAR)"
)


@register(
    "pipeline_pii_redact",
    "WITH planted AS (SELECT doc_id,"
    f" text || {_PLANTED_SQL} AS text FROM documents),"
    " counted AS (SELECT doc_id, text,"
    f" len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,"
    f" len(regexp_extract_all(text, '{_IPV4_RE}')) AS n_ips,"
    f" len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones"
    " FROM planted)"
    " SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,"
    " CAST(n_ips AS BIGINT) AS n_ips,"
    " CAST(n_phones AS BIGINT) AS n_phones,"
    " CAST(length(regexp_replace(regexp_replace(regexp_replace(text,"
    f" '{_EMAIL_RE}', '<EMAIL>', 'g'), '{_IPV4_RE}', '<IP>', 'g'),"
    f" '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len,"
    " CAST(NOT regexp_matches(regexp_replace(regexp_replace("
    f" regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),"
    f" '{_IPV4_RE}', '<IP>', 'g'), '{_PHONE_RE}', '<PHONE>', 'g'),"
    f" '{_EMAIL_RE}') AS BOOLEAN) AS clean"
    " FROM counted",
    bench="paired",
)
def pipeline_pii_redact(spark, sf_dir):
    """PII scrubbing, the standard pre-training hygiene pass (emails,
    IPv4s, phone numbers → typed placeholders). Pure column
    expressions — regexp_extract_all / regexp_replace run inside
    whole-stage codegen, zero Python, zero shuffles: at 100 TB this
    is a map-only pass whose cost is the scan itself. The `clean`
    column re-scans the redacted text for residual matches — the
    verify step a compliance pipeline needs."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), _planted(F.col("doc_id"))).alias("text")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _IPV4_RE,
            "<IP>",
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_IPV4_RE), F.lit(0))).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), F.lit(0))).cast("long").alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
        (~redacted.rlike(_EMAIL_RE)).alias("clean"),
    )


# ---------------------------------------------------------------------------
# Line-level boilerplate dedup (the C4/RefinedWeb cleaning pass):
# lines repeated across many documents are boilerplate (headers,
# nav, disclaimers); drop any line occurring in >= K distinct docs
# and reassemble each document from its surviving lines in order.
# ---------------------------------------------------------------------------
@register(
    "pipeline_line_dedup",
    "WITH lines AS (SELECT doc_id, i AS line_no, ln FROM ("
    "  SELECT doc_id, unnest(string_split(text, '. ')) AS ln,"
    "   unnest(range(1, len(string_split(text, '. ')) + 1)) AS i"
    "  FROM documents)),"
    " freq AS (SELECT ln, COUNT(DISTINCT doc_id) AS n_docs FROM lines"
    "  GROUP BY ln),"
    " kept AS (SELECT l.doc_id, l.line_no, l.ln FROM lines l"
    "  JOIN freq f ON f.ln = l.ln WHERE f.n_docs < 3)"
    " SELECT doc_id,"
    " CAST(COUNT(*) AS BIGINT) AS n_kept,"
    " CAST(length(string_agg(ln, '. ' ORDER BY line_no)) AS BIGINT)"
    "  AS clean_len,"
    " md5(string_agg(ln, '. ' ORDER BY line_no)) AS clean_hash"
    " FROM kept GROUP BY doc_id",
)
def pipeline_line_dedup(spark, sf_dir):
    """Boilerplate-line removal: explode documents to (doc, line_no,
    line), count DISTINCT docs per line, keep lines seen in < 3
    docs, and reassemble each doc in original line order (emitted as
    length + md5 so the output stays scalar). Scale shape: the line
    table shuffles once for the frequency count (map-side combine on
    the line text collapses within-partition repeats) and once for
    the per-doc reassembly; the frequency side joins back by line
    text — at 100 TB hash the line to a 16-byte key first. This is
    the sentence-level sibling of dedup_exact and the standard
    pre-training cleaning pass between document dedup and quality
    filtering."""
    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\. ")).alias("_i", "ln"),
    ).select("doc_id", (F.col("_i") + 1).alias("line_no"), "ln")
    freq = lines.groupBy("ln").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    kept = lines.join(freq.filter(F.col("n_docs") < 3), "ln")
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("line_no", "ln"))
                ),
                lambda s: s["ln"],
            ),
            ". ",
        ).alias("_clean"),
    )
    return reassembled.select(
        "doc_id",
        "n_kept",
        F.length("_clean").cast("long").alias("clean_len"),
        F.md5("_clean").alias("clean_hash"),
    )


# ---------------------------------------------------------------------------
# Training-mix statistics per source — the table a data-mixing
# config is written from (docs, chars, token estimate, quality
# proxies per source, plus each source's share of the corpus).
# ---------------------------------------------------------------------------
@register(
    "pipeline_source_mix",
    "WITH s AS (SELECT source, lang,"
    "  CAST(COUNT(*) AS BIGINT) AS n_docs,"
    "  CAST(SUM(n_chars) AS BIGINT) AS total_chars,"
    "  CAST(SUM(len(list_filter(string_split_regex(lower(text),"
    "   '[^a-z0-9]+'), t -> t <> ''))) AS BIGINT) AS total_tokens"
    "  FROM documents GROUP BY source, lang)"
    " SELECT source, lang, n_docs, total_chars, total_tokens,"
    " ROUND(CAST(total_tokens AS DOUBLE)"
    "  / SUM(total_tokens) OVER (), 6) AS token_share"
    " FROM s",
)
def pipeline_source_mix(spark, sf_dir):
    """Per-(source, lang) corpus composition: docs, chars, tokens,
    and each cell's token share of the whole corpus — the input to
    any data-mixing/reweighting decision. One group-by with map-side
    combine over the scan (token counting fused as a column
    expression), then a window over the |sources|×|langs| result for
    the shares: the second pass is group-bounded, scale-free."""
    docs = _t(spark, sf_dir, "documents")
    tok_count = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: t != "",
        )
    )
    s = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(tok_count).cast("long").alias("total_tokens"),
    )
    return s.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "total_tokens",
        F.round(
            F.col("total_tokens").cast("double")
            / F.sum("total_tokens").over(Window.partitionBy()),
            6,
        ).alias("token_share"),
    )


# ---------------------------------------------------------------------------
# Deterministic split assignment — hash-based train/val/test
# bucketing that is stable under recomputation, reshuffling, and
# incremental corpus growth (the property random() splits lack).
# ---------------------------------------------------------------------------
@register(
    "pipeline_split_assign",
    "WITH assigned AS (SELECT source, doc_id,"
    "  CAST(CONCAT('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)),"
    "   1, 8)) AS BIGINT) % 100 AS bucket FROM documents)"
    " SELECT source,"
    " CASE WHEN bucket < 90 THEN 'train'"
    "  WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,"
    " CAST(COUNT(*) AS BIGINT) AS n_docs,"
    " MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc"
    " FROM assigned GROUP BY 1, 2",
)
def pipeline_split_assign(spark, sf_dir):
    """90/5/5 train/val/test assignment from an md5 coin on the
    document id: deterministic (re-runs agree), engine-portable (the
    oracle reproduces every assignment bit-for-bit), and stable as
    the corpus grows (new docs hash independently — no global sort
    or count that reshuffles old assignments, which is why the
    100 TB pipeline wants hash splits, not row_number() % N). Pure
    map-side expression ahead of one group-bounded aggregate."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        docs.select(
            "source",
            "doc_id",
            F.when(bucket < 90, "train")
            .when(bucket < 95, "val")
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_gzip_ingest — compressed text-shard ingestion
# ---------------------------------------------------------------------------
_GZIP_SQL = """
SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
       md5(text) AS content_md5
FROM documents
"""


@register("pipeline_gzip_ingest", _GZIP_SQL)
def pipeline_gzip_ingest(spark, sf_dir):
    """Compressed corpus ingestion: every document is gzip'd by
    STDLIB gzip (the independent reference encoder) in one
    mapInPandas stage, then decompressed by the from-scratch RFC
    1951/1952 decoder (llm/deflate.gunzip — dynamic-Huffman inflate,
    CRC-32 + ISIZE verified) in a second, and reduced to
    (n_chars, md5) which the oracle recomputes from the PLAIN text —
    so a single wrong inflate byte anywhere in the corpus fails the
    value hash. This is the only codec in the family with an
    in-container independent implementation on the other side of the
    differential; the 147-case level-crossed round trip lives in
    tests/test_deflate.py. Scale shape: gzip members are not
    splittable, so the parallel unit is the member (one binary cell
    per task batch) — exactly how WARC/.gz shards ingest at 100 TB,
    and why both codec passes are map-only Arrow stages with zero
    shuffles."""

    import gzip as _gzip


    from stockify_spark.llm.deflate import gunzip

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def pack(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "gz": [
                        bytearray(_gzip.compress(t.encode("utf-8"), 6))
                        for t in pdf["text"]
                    ],
                }
            )

    packed = docs.mapInPandas(
        pack,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("gz", T.BinaryType(), False),
            ]
        ),
    )

    def unpack(batches):
        for pdf in batches:
            rows = []
            for i, gz in zip(pdf["doc_id"], pdf["gz"]):
                raw = gunzip(bytes(gz))
                rows.append(
                    (int(i), len(raw.decode("utf-8")), hashlib.md5(raw).hexdigest())
                )
            yield pd.DataFrame(rows, columns=["doc_id", "n_chars", "content_md5"])

    return packed.mapInPandas(
        unpack,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("n_chars", T.LongType(), False),
                T.StructField("content_md5", T.StringType(), False),
            ]
        ),
    )


# ---------------------------------------------------------------------------
# pipeline_dedup_incremental — incoming batch vs existing corpus
# ---------------------------------------------------------------------------
_INCR_SQL = """
WITH fp AS (SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
            FROM documents),
corpus AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n_corpus,
                  MIN(doc_id) AS first_seen
           FROM fp WHERE doc_id % 10 <> 0 GROUP BY f),
incoming AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 = 0)
SELECT i.doc_id, i.f AS fingerprint,
       c.f IS NULL AS is_new,
       COALESCE(c.n_corpus, 0) AS n_corpus,
       c.first_seen
FROM incoming i LEFT JOIN corpus c ON c.f = i.f
"""


@register("pipeline_dedup_incremental", _INCR_SQL)
def pipeline_dedup_incremental(spark, sf_dir):
    """Ingest-time dedup: an incoming batch (doc_id % 10 == 0)
    checked against the EXISTING corpus (the rest) by normalized-text
    fingerprint — the decision every incremental training-data
    pipeline makes per shard ("is this document already in the
    lake?"). The corpus side reduces to one (fingerprint, count,
    first_seen) row per distinct text BEFORE the join, so the join
    moves corpus-distinct rows, not corpus rows; at 100 TB the
    corpus fingerprint table is the thing you maintain incrementally
    (txlog merge) and probe (exactly what the per-file Bloom index
    accelerates: most incoming fingerprints are absent, and an
    absent probe opens zero files). Left join keeps never-seen
    incoming docs with is_new=true and NULL provenance."""


    fp = _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("f")
    )
    corpus = (
        fp.filter(F.col("doc_id") % 10 != 0)
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("n_corpus"),
            F.min("doc_id").alias("first_seen"),
        )
        .withColumnRenamed("f", "cf")
    )
    incoming = fp.filter(F.col("doc_id") % 10 == 0)
    return (
        incoming.join(corpus, incoming["f"] == corpus["cf"], "left")
        .select(
            "doc_id",
            F.col("f").alias("fingerprint"),
            F.col("cf").isNull().alias("is_new"),
            F.coalesce("n_corpus", F.lit(0)).alias("n_corpus"),
            "first_seen",
        )
    )


# URL canonicalization dedup, burstiness profiling, neighbor-set graph
# similarity, Kaplan-Meier survival, and the classical mean family.
#
# Shared exactness rule (the rank-statistics discipline): every
# cross-engine aggregation accumulates integers exactly representable
# in double (event counts, neighbor counts, at-risk counts), or is a
# pure string transform; division / ln / exp happen only in final
# scalar formulas written textually identically on both faces, with
# ROUND(...,6) as display. The two log-domain queries (geometric mean,
# Kaplan-Meier) accumulate logs — the one place engine sum order can
# drift at the ulp level — and round at 6dp, the same tolerance-free
# display policy window_seasonal established.

# ---------------------------------------------------------------------------
# pipeline_url_dedup — canonicalize crawl URLs, collapse variants
# ---------------------------------------------------------------------------
_URLD_N = 4000


# raw corpus: same logical page appears as www/no-www, upper/lower
# host case, :443 port, shuffled query order, utm_* tracking noise,
# and #fragment variants
_URLD_RAW = f"""
  SELECT i AS row_id,
         'https://'
         || CASE WHEN i % 3 = 0 THEN 'WWW.' ELSE '' END
         || 'host' || (i % 5)
         || CASE WHEN i % 4 = 1 THEN '.EXAMPLE.com' ELSE '.example.com' END
         || CASE WHEN i % 6 = 2 THEN ':443' ELSE '' END
         || '/p/' || (i % 29)
         || '?'
         || CASE WHEN i % 2 = 0
                 THEN 'a=' || (i % 11) || '&b=' || (i % 7)
                 ELSE 'b=' || (i % 7) || '&a=' || (i % 11) END
         || CASE WHEN i % 5 = 0 THEN '&utm_source=feed' ELSE '' END
         || CASE WHEN i % 7 = 3 THEN '#sec' || (i % 3) ELSE '' END
           AS url
  FROM range({_URLD_N}) t(i)
"""

_URLD_SQL = f"""
WITH raw AS ({_URLD_RAW}),
canon AS (
  SELECT row_id, url,
         'https://'
         || regexp_replace(
              lower(regexp_extract(url, '^https://([^/]+)', 1)),
              '^www\\.|:443$', '', 'g')
         || regexp_extract(url, '^https://[^/]+([^?#]*)', 1)
         || '?'
         || array_to_string(
              list_sort(list_filter(
                string_split(
                  regexp_extract(url, '\\?([^#]*)', 1), '&'),
                x -> NOT starts_with(x, 'utm_'))), '&')
           AS canonical
  FROM raw
)
SELECT canonical, COUNT(*) AS n_variants,
       COUNT(DISTINCT url) AS n_distinct_raw,
       MIN(row_id) AS first_seen
FROM canon GROUP BY canonical
"""


@register("pipeline_url_dedup", _URLD_SQL)
def pipeline_url_dedup(spark, sf_dir):
    """Crawl-style URL canonicalization + dedup — the step every
    CommonCrawl-derived corpus runs before content dedup: lowercase
    host, strip www. and the default :443 port, drop the #fragment,
    drop utm_* tracking params, and sort the surviving query params
    so parameter order can't split a page's identity. The whole
    transform is JVM-side string/array expressions (parse-free
    regexp + higher-order filter/sort on the split query string) —
    zero Python, one hash shuffle on the canonical key, identical
    in shape to dedup_exact. 4000 raw URLs collapse to the
    5x29x11x7 true page set with every variant axis exercised."""

    i = F.col("id")
    raw = spark.range(0, _URLD_N, 1, 8).select(
        i.alias("row_id"),
        F.concat(
            F.lit("https://"),
            F.when(i % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.lit("host"),
            (i % 5).cast("string"),
            F.when(i % 4 == 1, F.lit(".EXAMPLE.com")).otherwise(
                F.lit(".example.com")
            ),
            F.when(i % 6 == 2, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/p/"),
            (i % 29).cast("string"),
            F.lit("?"),
            F.when(
                i % 2 == 0,
                F.concat(
                    F.lit("a="), (i % 11).cast("string"),
                    F.lit("&b="), (i % 7).cast("string"),
                ),
            ).otherwise(
                F.concat(
                    F.lit("b="), (i % 7).cast("string"),
                    F.lit("&a="), (i % 11).cast("string"),
                )
            ),
            F.when(i % 5 == 0, F.lit("&utm_source=feed")).otherwise(F.lit("")),
            F.when(
                i % 7 == 3, F.concat(F.lit("#sec"), (i % 3).cast("string"))
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", r"^https://([^/]+)", 1)),
        r"^www\.|:443$",
        "",
    )
    path = F.regexp_extract("url", r"^https://[^/]+([^?#]*)", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
                lambda x: ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = raw.select(
        "row_id",
        "url",
        F.concat(F.lit("https://"), host, path, F.lit("?"), params).alias(
            "canonical"
        ),
    )
    return canon.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.countDistinct("url").alias("n_distinct_raw"),
        F.min("row_id").alias("first_seen"),
    )


_SHINGLES15 = (
    f"list_distinct(list_transform(range(greatest(len({_TOKS_SQL}) - 3, 0) + 1),"
    f" i -> array_to_string({_TOKS_SQL}[i + 1:i + 3], ' ')))"
)

_CONTAIN_SQL = f"""
WITH s AS (SELECT doc_id, {_SHINGLES15} AS sh FROM documents),
nz AS (SELECT * FROM s WHERE len(sh) > 0)
SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6)
         AS containment
FROM nz a JOIN nz b ON a.doc_id != b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.6
"""


# Deferred oracle: the all-ordered-pairs baseline is deliberately
# quadratic and burns the oracle budget.
@register("pipeline_containment_dedup", _CONTAIN_SQL, bench="deferred")
def pipeline_containment_dedup(spark, sf_dir):
    """Asymmetric shingle-containment pairs C(A→B) = |S(A)∩S(B)| /
    |S(A)| >= 0.6 — the excerpt/boilerplate-inclusion relation
    Jaccard scores near zero (the union is dominated by the
    container). Candidates via the asymmetric prefix filter: A's
    rarest |A| - ceil(0.6|A|) + 1 shingles probe the container
    side's FULL inverted index (no length bound on B — any superset
    qualifies); recall is exactly 1.0 and the oracle brute-forces
    all ordered pairs to prove it."""

    return shingle_containment_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=3, threshold=0.6
    )


# Corpus admission ensemble and traffic-hygiene bot detection.
#
# Both are the REPORTING face of pipeline filtering: not just a keep
# bit but the attributed reason (first failing rule, fixed order) —
# what an operator of a 100 TB ingest actually needs to debug a
# filter's yield. All metrics are rationals of integer counts (the
# determinism-by-construction rule); the bot detector keeps gap
# moments in integer SECONDS so squared sums stay exact below 2^53
# (millisecond gaps would overflow the exact-integer range).
_STOP25_SQL = "('the','a','of','and','to','in','is','that','it','for')"

_ENSEMBLE_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
         CAST(SUM(CASE WHEN tok IN {_STOP25_SQL} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_stop
  FROM tok GROUP BY doc_id
),
m AS (
  SELECT doc_id, n_tokens, n_distinct, n_stop,
         ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
         ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_frac
  FROM per_doc
)
SELECT doc_id, n_tokens, stop_ratio, dup_frac,
       CASE WHEN n_tokens < 10 THEN 'too_short'
            WHEN n_tokens > 400 THEN 'too_long'
            WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.02 THEN 'low_stopwords'
            WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens > 0.85
              THEN 'too_repetitive'
            ELSE 'ok' END AS reason,
       CASE WHEN n_tokens < 10 THEN FALSE
            WHEN n_tokens > 400 THEN FALSE
            WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.02 THEN FALSE
            WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens > 0.85 THEN FALSE
            ELSE TRUE END AS keep
FROM m
"""


@register("pipeline_quality_ensemble", _ENSEMBLE_SQL)
def pipeline_quality_ensemble(spark, sf_dir):
    """Corpus admission ensemble with ATTRIBUTED verdicts: length
    bounds, stopword floor, and repetition ceiling evaluated in a
    fixed rule order; the output carries the first failing rule name
    (the filter-yield debugging face a real ingest needs, not just a
    bit). All metrics are rationals of per-doc integer counts — one
    token-explode aggregation, map-side thereafter; the unrounded
    rationals decide, the rounded copies are display columns (both
    faces share both)."""

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.sum(F.when(F.col("tok").isin(*_STOP_WORDS), 1).otherwise(0)).alias("n_stop"),
    )
    c = F.col
    stop_r = c("n_stop").cast("double") / c("n_tokens")
    dup_f = 1.0 - c("n_distinct").cast("double") / c("n_tokens")
    reason = (
        F.when(c("n_tokens") < 10, "too_short")
        .when(c("n_tokens") > 400, "too_long")
        .when(stop_r < 0.02, "low_stopwords")
        .when(dup_f > 0.85, "too_repetitive")
        .otherwise("ok")
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(stop_r, 6).alias("stop_ratio"),
        F.round(dup_f, 6).alias("dup_frac"),
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


# Dedup-quality evaluation and funnel latency.
#
# The dedup evaluator applies the operators-evaluate-operators pattern
# (ml_confusion_metrics, orders_forecast_eval) to the near-dup
# pipeline itself: MinHash-LSH's verified output is scored against the
# exact-Jaccard ground truth — the number a 100 TB dedup operator has
# to report before anyone trusts its banding parameters. Funnel
# latency takes the existing click→purchase semi-join and reports the
# latency distribution by explicit rank selection (no quantile
# interpolation — the agg_weighted_median rule).
_EXACT_PAIRS_SQL = (
    f"WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)"
    " SELECT a.doc_id AS id_a, b.doc_id AS id_b"
    " FROM s a JOIN s b ON a.doc_id < b.doc_id"
    " WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5"
)

_DEDUP_EVAL_SQL = f"""
WITH lsh AS ({_minhash_oracle_sql()}),
exact AS ({_EXACT_PAIRS_SQL}),
common AS (
  SELECT COUNT(*) AS n FROM lsh JOIN exact
    ON exact.id_a = lsh.id_a AND exact.id_b = lsh.id_b
)
SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
       (SELECT COUNT(*) FROM lsh) AS n_lsh,
       (SELECT n FROM common) AS n_common,
       ROUND(CAST((SELECT n FROM common) AS DOUBLE)
             / (SELECT COUNT(*) FROM exact), 6) AS recall,
       ROUND(CAST((SELECT n FROM common) AS DOUBLE)
             / (SELECT COUNT(*) FROM lsh), 6) AS precision
"""


@register("pipeline_dedup_eval", _DEDUP_EVAL_SQL)
def pipeline_dedup_eval(spark, sf_dir):
    """Recall/precision of the MinHash-LSH near-dup detector against
    exact-Jaccard ground truth (threshold 0.5, the registered
    dedup_minhash_lsh configuration): the banding-parameter
    acceptance test a production dedup runs before trusting 16
    bands x 2 rows at scale. Precision is 1.0 by construction (LSH
    pairs are exact-verified post-banding); recall measures banding
    misses. Integer pair counts -> deterministic ratios. The oracle
    brute-forces the ground truth all-pairs; the Spark face uses the
    prefix-filtered exact join (recall-1.0 by the AllPairs bound),
    so the EVALUATION itself runs at index cost, not quadratic
    cost."""

    docs = _t(spark, sf_dir, "documents")
    lsh = minhash_lsh_pairs_seeded(
        docs, "text", "doc_id", num_hashes=32, bands=16, jaccard_threshold=0.5
    ).select("id_a", "id_b")
    exact = ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    n_exact = exact.count()
    n_lsh = lsh.count()
    n_common = lsh.join(exact, ["id_a", "id_b"]).count()
    return docs.sparkSession.createDataFrame(
        [
            (
                n_exact,
                n_lsh,
                n_common,
                round(n_common / n_exact, 6) if n_exact else None,
                round(n_common / n_lsh, 6) if n_lsh else None,
            )
        ],
        "n_exact long, n_lsh long, n_common long, recall double, precision double",
    )


# Chunk-reconstruction audit.
#
# The inverse test every chunking pipeline owes its users: stitch the
# sliding-window chunks (doc_chunk_stride's exact construction — 64
# window, 48 stride) back into the document and verify losslessness
# PER DOCUMENT inside the result. Stride-prefix stitching: every chunk
# but the last contributes its first 48 tokens, the last contributes
# all of its tokens — algebraically exact coverage with no
# double-counted overlap.
_AUDIT_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
e AS (SELECT doc_id, toks,
             unnest(range(0, ((len(toks) - 1) // {_CHUNK_S}) + 1)) AS i
      FROM t),
contrib AS (
  SELECT doc_id, i,
         MAX(i) OVER (PARTITION BY doc_id) AS max_i,
         CASE WHEN i < MAX(i) OVER (PARTITION BY doc_id)
              THEN array_to_string(
                     list_slice(toks, i * {_CHUNK_S} + 1,
                                i * {_CHUNK_S} + {_CHUNK_S}), ' ')
              ELSE array_to_string(
                     list_slice(toks, i * {_CHUNK_S} + 1,
                                i * {_CHUNK_S} + {_CHUNK_W}), ' ')
         END AS part,
         array_to_string(toks, ' ') AS norm
  FROM e
),
rebuilt AS (
  SELECT doc_id, MAX(max_i) + 1 AS n_chunks,
         string_agg(part, ' ' ORDER BY i) AS joined,
         MAX(norm) AS norm
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
       joined = norm AS reconstruction_ok,
       CAST(length(norm) AS BIGINT) AS n_chars
FROM rebuilt
"""


@register("pipeline_chunk_audit", _AUDIT_SQL)
def pipeline_chunk_audit(spark, sf_dir):
    """Lossless-chunking audit: re-derive doc_chunk_stride's exact
    chunks (window 64, stride 48), stitch them by stride-prefix
    (chunks 0..k-1 give their first 48 tokens, the final chunk
    gives all of its tokens — covering every token exactly once),
    and compare the rebuilt document to the normalized original IN
    the result: reconstruction_ok must be true on every row, and the
    driver hash-checks that claim. The audit is the same shape as
    the chunker (per-row slices + one per-doc window), so running it
    at 100 TB costs one extra pass over the chunk table."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size("toks")
    e = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.floor((n - 1) / _CHUNK_S).cast("int"))
        ).alias("i"),
    )
    wdoc = Window.partitionBy("doc_id")
    max_i = F.max("i").over(wdoc)
    part = F.when(
        F.col("i") < max_i,
        F.concat_ws(
            " ", F.slice("toks", F.col("i") * _CHUNK_S + 1, _CHUNK_S)
        ),
    ).otherwise(
        F.concat_ws(
            " ", F.slice("toks", F.col("i") * _CHUNK_S + 1, _CHUNK_W)
        )
    )
    contrib = e.select(
        "doc_id",
        "i",
        max_i.alias("max_i"),
        part.alias("part"),
        F.concat_ws(" ", F.col("toks")).alias("norm"),
    )
    rebuilt = contrib.groupBy("doc_id").agg(
        (F.max("max_i") + 1).alias("n_chunks"),
        F.concat_ws(
            " ", F.array_sort(F.collect_list(F.struct("i", "part"))).part
        ).alias("joined"),
        F.max("norm").alias("norm"),
    )
    return rebuilt.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        (F.col("joined") == F.col("norm")).alias("reconstruction_ok"),
        F.length("norm").cast("long").alias("n_chars"),
    )


# Content-defined chunking dedup.
#
# Content-defined chunking (CDC — the FastCDC/LBFS family) places
# chunk boundaries where a rolling hash of the trailing W bytes hits a
# divisor condition, so identical content yields identical chunks even
# when its byte offset shifts (an insertion early in a document moves
# every fixed-size block but only ONE content-defined chunk). This is
# the storage-layer dedup primitive the fixed-stride chunkers
# (doc_chunk_stride, pipeline_chunk_audit) cannot express: their
# chunks break under any offset shift.
#
# Boundary rule here: end position i (1-based, i >= W) is a cut point
# iff md5int(substr(text, i-W+1, W)) % D == 0, with W=8, D=32 —
# expected chunk length ~32 chars against the 48..600-char synthetic
# documents. The document end is always a cut. md5int is the repo's
# cross-engine uniform (first 8 md5 hex digits as a BIGINT —
# agg_cms_sketch, sample_weighted), so Spark and DuckDB cut at
# bit-identical positions.
_CDC_W = 8

_CDC_D = 32

_CDC_SQL = f"""
WITH d AS (SELECT doc_id, text, length(text) AS n
           FROM documents WHERE length(text) > 0),
cuts AS (
  SELECT doc_id, text, n, i AS e
  FROM (SELECT doc_id, text, n, unnest(range({_CDC_W}, n + 1)) AS i
        FROM d WHERE n >= {_CDC_W})
  WHERE CAST(CONCAT('0x', substr(md5(substr(text, i - {_CDC_W - 1}, {_CDC_W})),
                                 1, 8)) AS BIGINT) % {_CDC_D} = 0
  UNION
  SELECT doc_id, text, n, n AS e FROM d
),
sp AS (
  SELECT doc_id, text, n, e,
         COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s
  FROM cuts
),
ch AS (
  SELECT doc_id, n, e - s + 1 AS clen,
         md5(substr(text, s, e - s + 1)) AS h
  FROM sp
),
occ AS (
  SELECT doc_id, n, clen,
         COUNT(*) OVER (PARTITION BY h) AS n_occ
  FROM ch
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(MAX(n) AS BIGINT) AS n_chars,
       CAST(SUM(CASE WHEN n_occ > 1 THEN clen ELSE 0 END) AS BIGINT)
         AS dup_chars,
       ROUND(CAST(SUM(CASE WHEN n_occ > 1 THEN clen ELSE 0 END) AS DOUBLE)
             / MAX(n), 6) AS dup_ratio
FROM occ GROUP BY doc_id
"""


@register("pipeline_cdc_chunk_dedup", _CDC_SQL)
def pipeline_cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunking dedup report: cut every document at
    positions where the trailing-8-char md5int hits 0 mod 32 (plus
    the document end), hash each chunk, and report per document how
    many of its characters sit in a chunk whose hash occurs more
    than once corpus-wide. Chunks cover each document exactly once
    (sum(clen) == n_chars — pinned in tests/test_ext37.py), and the
    cut positions are content-addressed, so shared passages dedup
    regardless of their byte offset.

    Scale shape: the per-position explode is a narrow map (no
    shuffle) and exists for oracle parity — a production ingest
    would fold the boundary scan into one mapInPandas pass with a
    gear rolling hash (O(1) per byte instead of an 8-byte hash per
    position) emitting (doc_id, chunk_hash, clen) directly, which
    also enforces FastCDC's min/max chunk bounds. Everything after
    the cut is two hash-partitioned exchanges: one on chunk hash for
    the occurrence count, one on doc_id for the report — both
    map-side combinable, no broadcast, no skew (md5 buckets are
    uniform), so the plan is a straight line at 100 TB."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text", F.length("text").alias("n"))
        .filter(F.col("n") > 0)
    )
    grams = d.filter(F.col("n") >= _CDC_W).select(
        "doc_id",
        "text",
        "n",
        F.explode(F.sequence(F.lit(_CDC_W), F.col("n"))).alias("i"),
    )
    gram = F.substring(F.col("text"), F.col("i") - (_CDC_W - 1), F.lit(_CDC_W))
    h32 = F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
    cuts = (
        grams.filter(h32 % _CDC_D == 0)
        .select("doc_id", "text", "n", F.col("i").alias("e"))
        .union(d.select("doc_id", "text", "n", F.col("n").alias("e")))
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("e")
    sp = cuts.withColumn(
        "s", F.coalesce(F.lag("e").over(w), F.lit(0)) + 1
    )
    ch = sp.select(
        "doc_id",
        "n",
        (F.col("e") - F.col("s") + 1).alias("clen"),
        F.md5(
            F.substring(F.col("text"), F.col("s"), F.col("e") - F.col("s") + 1)
        ).alias("h"),
    )
    # occurrence count per chunk hash: groupBy + join-back, not a
    # window over "h" — a boilerplate chunk repeated corpus-wide is a
    # power-law key that would pin one WindowExec buffer (AQE splits
    # skewed joins, not windows; the substring-dedup lesson). The
    # checkpoint keeps the chunking scan single-pass across the
    # count side and the probe side. localCheckpoint is executor-
    # local and unreplicated (lineage truncated): fine locally; at
    # cluster scale use persist(DISK_ONLY_2) / reliable checkpoint —
    # the trade documented at llm/dedup.repeated_substring_spans.
    ch = ch.localCheckpoint()
    occ_n = ch.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    occ = ch.join(occ_n, "h")
    dup = F.sum(F.when(F.col("n_occ") > 1, F.col("clen")).otherwise(F.lit(0)))
    return occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.max("n").cast("long").alias("n_chars"),
        dup.cast("long").alias("dup_chars"),
        F.round(dup.cast("double") / F.max("n"), 6).alias("dup_ratio"),
    )


# Repeated-n-gram span coverage.
#
# The span-level duplication measure from the training-data-dedup
# literature (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better"): a document's duplication is not how many
# of its shingles repeat (text_novelty_ratio's census) but how much of
# its TOKEN SPAN is covered by the union of cross-document repeated
# n-grams — overlapping repeats must not double-count. With fixed
# 8-token grams the interval union has a closed form: sort the shared
# start positions, and each contributes min(8, gap-to-previous-start)
# covered tokens. Integer-exact, no sweep state.
_NG = 8

_COV_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
n AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM t),
g AS (
  SELECT doc_id, i AS s,
         md5(array_to_string(list_slice(toks, i, i + {_NG - 1}), ' ')) AS gh
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_NG - 2})) AS i
        FROM n WHERE len(toks) >= {_NG})),
sh AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1),
si AS (SELECT doc_id, s,
              LAG(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
       FROM g JOIN sh USING (gh)),
cov AS (SELECT doc_id,
               SUM(CASE WHEN prev IS NULL THEN {_NG}
                        ELSE LEAST({_NG}, s - prev) END) AS covered
        FROM si GROUP BY doc_id)
SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
       ROUND(CAST(COALESCE(cov.covered, 0) AS DOUBLE) / n.n_tokens, 6)
         AS dup_frac
FROM n LEFT JOIN cov USING (doc_id)
"""


@register("pipeline_ngram_coverage", _COV_SQL)
def pipeline_ngram_coverage(spark, sf_dir):
    """Per-document fraction of tokens covered by 8-grams that also
    occur in at least one OTHER document (within-document repeats do
    not count — the cross-document condition is a distinct-doc count
    per gram, not an occurrence count). Overlapping shared grams are
    union-merged, not summed: with sorted fixed-length intervals,
    each start adds min(8, distance to the previous start) tokens —
    the closed-form interval union pinned against a brute-force
    position-set reimplementation in tests/test_ext42.py.

    Scale shape: the gram table is a narrow explode (~tokens rows);
    the shared-gram test is one count-distinct shuffle on the md5
    gram key (uniform, skew-free — the dedup-family layout); the
    coverage pass is a per-doc window over only the SHARED positions
    (usually a small fraction); the final left join keeps fully
    novel documents at coverage 0. Nothing is quadratic in corpus
    size — the same banding discipline as dedup_exact/minhash."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n = docs.select("doc_id", F.size("toks").alias("n_tokens"), "toks")
    g = (
        n.filter(F.col("n_tokens") >= _NG)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tokens") - (_NG - 1))
            ).alias("s"),
        )
        .select(
            "doc_id",
            "s",
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("s"), _NG))).alias(
                "gh"
            ),
        )
    )
    sh = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    si = g.join(sh, "gh").withColumn(
        "prev", F.lag("s").over(Window.partitionBy("doc_id").orderBy("s"))
    )
    cov = si.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("prev").isNull(), F.lit(_NG)).otherwise(
                F.least(F.lit(_NG), F.col("s") - F.col("prev"))
            )
        ).alias("covered")
    )
    return (
        n.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("covered"), F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.round(
                F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("dup_frac"),
        )
    )


# Systematic weighted resampling.
#
# Data-mixing pipelines draw a fixed-size sample where each document's
# multiplicity is proportional to its weight (quality score, domain
# mixing ratio). Independent draws (the A-Res family, sample_weighted)
# have multinomial variance; SYSTEMATIC resampling — the low-variance
# scheme from particle filtering (Kitagawa 1996) — places m evenly
# spaced probes (j + 1/2) * W / m, j = 0..m-1, over the cumulative
# weight axis, so every document's multiplicity is within 1 of its
# exact expectation m * w_i / W. With integer weights the probe count
# per document has a pure-integer closed form:
#
#   c(cum) = 0                                if 2*cum*m < W
#            (2*cum*m - W) // (2*W) + 1       otherwise
#   multiplicity_i = c(cum_i) - c(cum_{i-1})
#
# — no floats anywhere, so the Spark face and the DuckDB oracle agree
# exactly by arithmetic, not by rounding policy.
_M = 200  # sample size (number of probes)

_SYS_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         SUM(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id) AS cum,
         SUM(CAST(n_chars AS BIGINT)) OVER () AS tot
  FROM documents),
c AS (
  SELECT doc_id, w,
         CASE WHEN 2 * cum * {_M} < tot THEN 0
              ELSE (2 * cum * {_M} - tot) // (2 * tot) + 1 END AS chi,
         CASE WHEN 2 * (cum - w) * {_M} < tot THEN 0
              ELSE (2 * (cum - w) * {_M} - tot) // (2 * tot) + 1 END AS clo
  FROM d)
SELECT doc_id, w AS weight, CAST(chi - clo AS BIGINT) AS multiplicity
FROM c WHERE chi > clo
"""


@register("pipeline_systematic_resample", _SYS_SQL)
def pipeline_systematic_resample(spark, sf_dir):
    """Systematic resample of 200 probes over documents weighted by
    n_chars, documents laid on the cumulative axis in doc_id order.
    Emits (doc_id, weight, multiplicity) for selected documents.
    Two invariants pinned in tests/test_ext48.py: multiplicities
    total exactly 200, and every multiplicity is floor or ceil of
    its exact expectation 200*w/W — the low-variance guarantee that
    is the entire reason to prefer systematic over independent
    draws.

    Scale shape: one global prefix sum (at 100 TB the standard
    two-phase form — per-partition subtotals broadcast back, the
    pipeline_token_pack layout) and a map: each row computes its own
    probe count from (cum, cum - w) in closed form, so no probe list
    is ever materialized and m can be billions without a join. The
    global-order window here is the documented 1-part parity shape;
    the partitioned production twin is the token-pack construction."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("w")
    )
    d = docs.select(
        "doc_id",
        "w",
        F.sum("w").over(Window.orderBy("doc_id")).alias("cum"),
        F.sum("w").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("tot"),
    )

    def probes(cum):
        raw = F.expr(
            f"(2 * ({cum}) * {_M} - tot) div (2 * tot)"
        ) + 1
        return F.when(
            F.expr(f"2 * ({cum}) * {_M}") < F.col("tot"), F.lit(0)
        ).otherwise(raw)

    c = d.select(
        "doc_id",
        "w",
        probes("cum").alias("chi"),
        probes("cum - w").alias("clo"),
    )
    return c.filter(F.col("chi") > F.col("clo")).select(
        "doc_id",
        F.col("w").alias("weight"),
        (F.col("chi") - F.col("clo")).cast("long").alias("multiplicity"),
    )


# The dataset card.
#
# Every curated corpus ships with a datasheet (Gebru et al. 2021,
# "Datasheets for Datasets"); the machine-readable core is a one-row
# summary a pipeline can diff between releases: scale (documents,
# tokens, vocabulary), duplication (exact-dup rate under the
# dedup_exact fingerprint), provenance spread (source count, language
# label entropy), and shape (mean/max document length). One query,
# assembled from two passes over the corpus — the release-gating
# artifact the rest of the pipeline family feeds.
_CARD_SQL = """
WITH norm AS (
  SELECT doc_id, lang, source,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
         string_split(lower(text), ' ') AS toks
  FROM documents),
docstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
         CAST(MAX(len(toks)) AS BIGINT) AS max_doc_tokens
  FROM norm),
vocab AS (
  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_size
  FROM (SELECT unnest(toks) AS w FROM norm)),
langH AS (
  SELECT ROUND(SUM(-(CAST(k AS DOUBLE) / n) * log2(CAST(k AS DOUBLE) / n)),
               6) AS lang_entropy
  FROM (SELECT lang, COUNT(*) AS k, SUM(COUNT(*)) OVER () AS n
        FROM norm GROUP BY 1))
SELECT d.n_docs, d.n_tokens, v.vocab_size, d.n_sources,
       ROUND(CAST(d.n_tokens AS DOUBLE) / d.n_docs, 6) AS mean_doc_tokens,
       d.max_doc_tokens,
       ROUND(1 - CAST(d.n_unique AS DOUBLE) / d.n_docs, 6) AS exact_dup_rate,
       l.lang_entropy
FROM docstats d CROSS JOIN vocab v CROSS JOIN langH l
"""


@register("pipeline_dataset_card", _CARD_SQL)
def pipeline_dataset_card(spark, sf_dir):
    """One-row machine-readable dataset card: document/token/
    vocabulary counts, source spread, language-label entropy
    (bits), mean/max document length, and the exact-duplicate rate
    under the dedup_exact normalization (lower, trim, whitespace
    collapse, md5). Field identities — dup rate consistent with
    dedup_exact's cluster census, entropy bounded by log2(#langs),
    token totals consistent with the raw split — are pinned in
    tests/test_ext79.py.

    Scale shape: three aggregates over the normalized frame — the
    plan re-expands the cheap per-row normalization per branch
    (3 corpus scans; a grouping-sets/observe fusion would cut it to
    one, at the cost of entangling the three contracts), and each
    branch is map-side combinable; vocabulary is the one big
    distinct, the same shuffle text_heaps_law pays. Diffing
    two releases' cards is the cheapest regression gate a 100 TB
    corpus refresh can run."""
    norm = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.md5(
            F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
        ).alias("fp"),
        F.split(F.lower("text"), " ").alias("toks"),
    )
    docstats = norm.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_unique"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum(F.size("toks")).cast("long").alias("n_tokens"),
        F.max(F.size("toks")).cast("long").alias("max_doc_tokens"),
    )
    vocab = (
        norm.select(F.explode("toks").alias("w"))
        .agg(F.countDistinct("w").cast("long").alias("vocab_size"))
    )
    lk = norm.groupBy("lang").agg(F.count(F.lit(1)).alias("k"))
    lang_h = (
        lk.crossJoin(F.broadcast(lk.agg(F.sum("k").alias("n"))))
        .agg(
            F.round(
                F.sum(
                    -(F.col("k").cast("double") / F.col("n"))
                    * F.log2(F.col("k").cast("double") / F.col("n"))
                ),
                6,
            ).alias("lang_entropy")
        )
    )
    return (
        docstats.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(lang_h))
        .select(
            "n_docs",
            "n_tokens",
            "vocab_size",
            "n_sources",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("mean_doc_tokens"),
            "max_doc_tokens",
            F.round(
                1 - F.col("n_unique").cast("double") / F.col("n_docs"), 6
            ).alias("exact_dup_rate"),
            "lang_entropy",
        )
    )


# Token-budget data selection.
#
# The last step of every curation pipeline: given a training-token
# budget, WHICH documents make the cut? Greedy selection by
# value-per-token is the fractional-knapsack argument (Dantzig 1957):
# optimal for the fractional relaxation, within one document of
# optimal whenever documents are small against the budget — which at
# corpus scale they always are. Value here is lexical diversity (the
# text_mattr family's TTR), cost is token count; the selection is an
# explicit-rank prefix: sort by density, admit while the running token
# total fits.
_BUDGET = 10_000  # tokens

_SEL_SQL = f"""
WITH d AS (
  SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tokens,
         ROUND(CAST(len(list_distinct(string_split(lower(text), ' ')))
                    AS DOUBLE)
               / len(string_split(lower(text), ' ')), 6) AS ttr
  FROM documents),
r AS (
  SELECT doc_id, n_tokens, ttr,
         SUM(n_tokens) OVER (ORDER BY ttr DESC, doc_id) AS cum_tokens
  FROM d)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, ttr,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM r WHERE cum_tokens <= {_BUDGET}
"""


@register("pipeline_budget_select", _SEL_SQL)
def pipeline_budget_select(spark, sf_dir):
    """Greedy 10k-token selection by TTR density (desc, doc_id
    tie-break): one prefix sum in selection order, admit while the
    running total fits. Budget feasibility, the density invariant
    (every admitted document's TTR >= every rejected one's, up to
    the tie-break), and greedy dominance over random same-budget
    selections are pinned in tests/test_ext83.py.

    Scale shape: doc stats are per-row expressions; the ranked
    prefix sum over the doc table is the one global-order window
    (the pipeline_token_pack parity convention; its two-phase
    distributed twin swaps in unchanged). The admitted set streams
    straight into the chunkers — this operator IS the gate between
    the scored corpus and the training run."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks"),
            6,
        ).alias("ttr"),
    )
    w = Window.orderBy(F.col("ttr").desc(), "doc_id")
    r = d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return r.filter(F.col("cum_tokens") <= _BUDGET).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "ttr",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


# MP3 Layer III zero-spectrum sample decode.
#
# r8 verdict #6 — move the MP3 honest boundary one notch inward, in the
# media_flac_decode tolerance-of-truth family: the oracle RECOMPUTES
# everything the decoder must produce (frame count, duration, VBR flag,
# sample count, waveform stats, and a side-info digest) from the
# fixture's closed forms through an independent path. The decode side
# walks real MPEG-1 frame structure (padding-alternating lengths, three
# sample rates), parses the 256-bit stereo side info bit-exactly, and
# reconstructs the per-spec exactly-silent PCM; a mis-walked frame
# boundary changes n_frames/duration, a one-bit side-info offset error
# scrambles the global_gain/count1table_select digest, and a wrong
# sample count or non-zero sample changes n_samples/peak/rms — each
# fails the value hash. Non-silent Layer III (huffman + scalefactors +
# IMDCT) stays behind decode_mp3's NotImplementedError (llm/mp3.py).

# ---------------------------------------------------------------------------
# DSIR-style importance weights — data selection via importance
# resampling (hashed n-gram likelihood-ratio weighting, the standard
# recipe for matching a raw crawl to a target domain before
# pretraining). Target here: the 'de' slice of the corpus; every doc
# gets log w = Σ_tokens [ln p_target(bucket) - ln p_raw(bucket)] over
# md5-hashed unigram buckets with Laplace smoothing, and the top-50
# by weight are the selected batch.
# ---------------------------------------------------------------------------
_DSIR_B = 64  # hash buckets; model state is 2 x 64 counts

_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, tok FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
    FROM documents)
  WHERE length(tok) > 0),
tb AS (
  SELECT doc_id, lang,
         CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT) % {_DSIR_B} AS b
  FROM toks),
raw AS (SELECT b, COUNT(*) AS rc FROM tb GROUP BY b),
tgt AS (SELECT b, COUNT(*) AS tc FROM tb WHERE lang = 'de' GROUP BY b),
tot AS (SELECT CAST((SELECT COUNT(*) FROM tb) AS DOUBLE) AS nr,
               CAST((SELECT COUNT(*) FROM tb WHERE lang = 'de') AS DOUBLE) AS nt),
w AS (
  SELECT r.b,
         ln((COALESCE(t.tc, 0) + 0.5) / (tot.nt + {_DSIR_B} * 0.5))
         - ln((r.rc + 0.5) / (tot.nr + {_DSIR_B} * 0.5)) AS lr
  FROM raw r LEFT JOIN tgt t USING (b), tot),
sc AS (
  SELECT tb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(SUM(w.lr), 6) AS log_w
  FROM tb JOIN w USING (b) GROUP BY tb.doc_id)
SELECT doc_id, n_tokens, log_w
FROM sc ORDER BY log_w DESC, doc_id LIMIT 50
"""


@register("pipeline_dsir_weights", _DSIR_SQL, bench="paired")
def pipeline_dsir_weights(spark, sf_dir):
    """Hashed-unigram importance-resampling weights against a target
    domain (the 'de' corpus slice), top-50 selected.

    Scale shape, end to end: tokenize + bucket is one map pass; the
    target and raw bucket histograms are two bounded aggregates (64
    rows each — model state, not data); the per-bucket log-ratio
    table is built from those 64 rows and BROADCAST back; scoring is
    one broadcast-join + per-doc sum; selection is ORDER BY + LIMIT
    (TakeOrderedAndProject — per-partition top-k, never a global
    sort). Nothing in the plan collects or shuffles row-scale state
    besides the one groupBy(doc_id), so the recipe survives a 100 TB
    raw corpus with a fixed-size target sample unchanged. Float
    policy: ln ratios summed per doc, ROUND 6 after the aggregate on
    both engines."""


    docs = _t(spark, sf_dir, "documents")
    # spread the single-file scan: the tokenize + per-token md5 bucket
    # below is the expensive-map case functions/scale documents, and
    # it feeds BOTH corpus passes
    toks = spread_small_scan(docs.select("doc_id", "lang", "text")).select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    tb = toks.select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
            % _DSIR_B
        ).alias("b"),
    )
    # BOTH histograms in ONE corpus aggregate (raw count + target
    # count_if per bucket), checkpointed at 64 rows so the totals
    # rollup and the broadcast build don't re-run the tokenize+md5
    # pass — the plan is now exactly two corpus passes (histogram,
    # scoring), down from four
    hist = (
        tb.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("rc"),
            F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).alias("tc"),
        )
        .localCheckpoint(eager=True)
    )  # bounded: <= _DSIR_B rows of model state
    tot = hist.agg(
        F.sum("rc").cast("double").alias("nr"),
        F.sum("tc").cast("double").alias("nt"),
    )
    w = (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log(
                    (F.col("tc") + 0.5)
                    / (F.col("nt") + _DSIR_B * 0.5)
                )
                - F.log((F.col("rc") + 0.5) / (F.col("nr") + _DSIR_B * 0.5))
            ).alias("lr"),
        )
    )
    sc = (
        tb.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr"), 6).alias("log_w"),
        )
    )
    return sc.orderBy(F.col("log_w").desc(), "doc_id").limit(50).select(
        "doc_id", "n_tokens", "log_w"
    )


# ---------------------------------------------------------------------------
# Temperature-scaled sampling mix — the multilingual upsampling recipe
# (p_i ∝ share_i^alpha with alpha < 1 flattens the language
# distribution; alpha = 0.3 is the published mT5/XLM-R setting).
# Output per language: raw token share, temperature-scaled sampling
# probability, and the implied upsampling factor p_alpha / p_raw.
# ---------------------------------------------------------------------------
_TEMP_ALPHA = 0.3

_TEMP_MIX_SQL = f"""
WITH tok AS (
  SELECT lang,
         CAST(SUM(len(list_filter(string_split_regex(lower(text),
              '[^a-z0-9]+'), t -> t <> ''))) AS BIGINT) AS total_tokens
  FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(total_tokens) AS DOUBLE) AS n FROM tok),
sh AS (SELECT lang, total_tokens,
              total_tokens / tot.n AS p_raw,
              POW(total_tokens / tot.n, {_TEMP_ALPHA}) AS pa_un
       FROM tok, tot),
z AS (SELECT SUM(pa_un) AS z FROM sh)
SELECT lang, total_tokens,
       ROUND(p_raw, 6) AS p_raw,
       ROUND(pa_un / z.z, 6) AS p_alpha,
       ROUND((pa_un / z.z) / p_raw, 6) AS upsample
FROM sh, z
"""


@register("pipeline_temperature_mix", _TEMP_MIX_SQL)
def pipeline_temperature_mix(spark, sf_dir):
    """Temperature sampling weights per language at alpha = 0.3.

    Scale shape: one map-side-combined aggregate over the corpus scan
    (token counting fused as a column expression — zero Python), then
    all remaining arithmetic runs on the |langs|-row table with the
    two scalar totals broadcast — model-sized state end to end. The
    published use: low-resource languages are upsampled (factor > 1)
    and the head language is downsampled, with alpha the only knob.
    Float policy: POW/divides in double, ROUND 6 after aggregation on
    both engines."""

    docs = _t(spark, sf_dir, "documents")
    tok_count = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: t != "",
        )
    )
    tok = docs.groupBy("lang").agg(
        F.sum(tok_count).cast("long").alias("total_tokens")
    )
    tot = tok.agg(F.sum("total_tokens").cast("double").alias("n"))
    sh = tok.crossJoin(F.broadcast(tot)).select(
        "lang",
        "total_tokens",
        (F.col("total_tokens") / F.col("n")).alias("p_raw"),
        F.pow(F.col("total_tokens") / F.col("n"), _TEMP_ALPHA).alias("pa_un"),
    )
    z = sh.agg(F.sum("pa_un").alias("z"))
    return sh.crossJoin(F.broadcast(z)).select(
        "lang",
        "total_tokens",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(F.col("pa_un") / F.col("z"), 6).alias("p_alpha"),
        F.round((F.col("pa_un") / F.col("z")) / F.col("p_raw"), 6).alias("upsample"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing — per-language head/middle/tail
# terciles under the corpus trigram LM, with the keep decision
# (head + middle retained, tail dropped) that the CCNet pipeline
# applies before training. Builds on text_perplexity's LM scoring
# — this is the SELECTION half.
# ---------------------------------------------------------------------------
_PPL_BUCKET_SQL = f"""
WITH ppl_scored AS ({{ppl_sql}}),
with_lang AS (
  SELECT p.doc_id, d.lang, p.ppl
  FROM ppl_scored p JOIN documents d USING (doc_id)),
bucketed AS (
  SELECT lang, ppl,
         NTILE(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS bucket
  FROM with_lang)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(ppl), 4) AS mean_ppl,
       bucket <= 2 AS kept
FROM bucketed GROUP BY lang, bucket
"""


def _ppl_bucket_sql() -> str:
    return _PPL_BUCKET_SQL.format(ppl_sql=_PPL_SQL)


@register("pipeline_ppl_buckets", _ppl_bucket_sql())
def pipeline_ppl_buckets(spark, sf_dir):
    """Per-language perplexity terciles (head=1 / middle=2 / tail=3)
    and the CCNet keep rule (tail dropped).

    Scale shape: the LM scoring inherits text_perplexity's plan (one
    checkpointed trigram stream, count tables joined back on their
    keys); bucketing here uses NTILE over (lang) for EXACT tercile
    parity with the oracle — a per-language sort, bounded by the
    largest language. The 100 TB form replaces the sort with
    percentile_approx cutoffs per language (two bounded aggregates,
    no global order) at the cost of approximate boundaries; CCNet
    itself uses fixed percentile cutoffs computed once on a sample,
    which is exactly that form. Output is |langs| x 3 rows."""

    ppl = text_perplexity(spark, sf_dir).select("doc_id", "ppl")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    bucketed = ppl.join(docs, "doc_id").select(
        "lang", "ppl", F.ntile(3).over(w).alias("bucket")
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("ppl"), 4).alias("mean_ppl"),
    ).select(
        "lang",
        F.col("bucket").cast("long").alias("bucket"),
        "n_docs",
        "mean_ppl",
        (F.col("bucket") <= 2).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Gumbel top-k — weighted sampling WITHOUT replacement as a single
# top-k: score s_i = ln(w_i) + Gumbel_i and take the k largest (the
# Gumbel-max trick; Efraimidis-Spirakis equivalent). The Gumbel draw
# is seed-keyed through the repo's md5-uniform discipline, so the
# "random" sample is deterministic, replayable, and cross-engine
# exact — the property production samplers need for auditable
# data-selection runs.
# ---------------------------------------------------------------------------
_GUMBEL_SEED = "gumbel-v1"

_GUMBEL_K = 20

_GUMBEL_SQL = f"""
WITH u AS (
  SELECT doc_id, n_chars,
         (CAST(CONCAT('0x', substr(md5(CONCAT('{_GUMBEL_SEED}', '|', doc_id)),
               1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS uu
  FROM documents),
s AS (
  SELECT doc_id, n_chars,
         ROUND(ln(CAST(n_chars AS DOUBLE)) + (-ln(-ln(uu))), 6) AS score
  FROM u)
SELECT doc_id, n_chars, score
FROM s ORDER BY score DESC, doc_id LIMIT {_GUMBEL_K}
"""


@register("pipeline_gumbel_topk", _GUMBEL_SQL)
def pipeline_gumbel_topk(spark, sf_dir):
    """Seeded Gumbel top-20 of documents with weight = n_chars.

    Scale shape: scoring is pure per-row arithmetic on the scan (no
    Python, no shuffle) and selection is ORDER BY + LIMIT —
    TakeOrderedAndProject's per-partition top-k, so the only thing
    that moves is k rows per partition. The +0.5 in the uniform keeps
    u strictly inside (0,1) so neither ln is singular. Exactly the
    shape a 100 TB budgeted sampler wants: one pass, k rows out,
    fully replayable from the seed."""

    docs = _t(spark, sf_dir, "documents")
    uu = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_GUMBEL_SEED), F.lit("|"), F.col("doc_id"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.round(
            F.log(F.col("n_chars").cast("double")) + (-F.log(-F.log(uu))), 6
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(_GUMBEL_K)


# ---------------------------------------------------------------------------
# Exact substring dedup — Lee et al. 2022 (r9 verdict #3): maximal
# >= L-token verbatim-repeated spans, the spans that paper removes
# from training corpora. See llm/dedup.repeated_substring_spans for
# the covering-window re-expression of the paper's suffix array.
# ---------------------------------------------------------------------------
_SUBSTR_L = 15  # span threshold; the paper uses 50 on web-scale text

_SUBSTR_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
wins AS (
  SELECT doc_id, i AS sp, array_to_string(t[i:i+{_SUBSTR_L - 1}], ' ') AS w
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(t) - {_SUBSTR_L} + 2, 1))) AS i)),
dup AS (SELECT w FROM wins GROUP BY w HAVING COUNT(*) > 1),
hits AS (SELECT wins.doc_id, wins.sp FROM wins JOIN dup USING (w)),
flags AS (
  SELECT doc_id, sp,
         CASE WHEN sp > COALESCE(MAX(sp + {_SUBSTR_L - 1}) OVER (
                PARTITION BY doc_id ORDER BY sp
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nf
  FROM hits),
grp AS (
  SELECT doc_id, sp,
         SUM(nf) OVER (PARTITION BY doc_id ORDER BY sp) AS gid
  FROM flags)
SELECT doc_id,
       CAST(MIN(sp) AS BIGINT) AS span_start,
       CAST(MAX(sp) + {_SUBSTR_L - 1} AS BIGINT) AS span_end,
       CAST(MAX(sp) + {_SUBSTR_L - 1} - MIN(sp) + 1 AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, gid
"""


@register("dedup_substring_exact", _SUBSTR_SQL, bench="paired")
def dedup_substring_exact(spark, sf_dir):
    """Every maximal span covered by a verbatim >= 15-token repeat
    anywhere in the documents corpus, 1-based token positions — the
    exact-substring dedup output (the family's final member beyond
    shingle/containment granularity). The oracle recomputes the
    identical span set through DuckDB list/window functions.

    Scale shape: linear in corpus tokens — map-side window
    construction, ONE shuffle keyed on the window text for the
    occurrence count (at 100 TB, keyed on xxhash64 with ids only),
    one doc-keyed shuffle for the interval merge."""

    docs = _t(spark, sf_dir, "documents")
    return repeated_substring_spans(docs, "text", "doc_id", _SUBSTR_L)


# ---------------------------------------------------------------------------
# Exact substring dedup, APPLIED — the corpus Lee et al. actually
# ship: every covered token cut, per-doc removal accounting.
# ---------------------------------------------------------------------------
_SUBSTR_APPLY_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
wins AS (
  SELECT doc_id, i AS sp, array_to_string(t[i:i+{_SUBSTR_L - 1}], ' ') AS w
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(t) - {_SUBSTR_L} + 2, 1))) AS i)),
dup AS (SELECT w FROM wins GROUP BY w HAVING COUNT(*) > 1),
hits AS (SELECT wins.doc_id, wins.sp FROM wins JOIN dup USING (w)),
flags AS (
  SELECT doc_id, sp,
         CASE WHEN sp > COALESCE(MAX(sp + {_SUBSTR_L - 1}) OVER (
                PARTITION BY doc_id ORDER BY sp
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nf
  FROM hits),
grp AS (
  SELECT doc_id, sp, SUM(nf) OVER (PARTITION BY doc_id ORDER BY sp) AS gid
  FROM flags),
spans AS (
  SELECT doc_id, MIN(sp) AS s, MAX(sp) + {_SUBSTR_L - 1} AS e
  FROM grp GROUP BY doc_id, gid),
tok AS (
  SELECT doc_id, i AS pos, t[i] AS tk
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
kept AS (
  SELECT k.doc_id, k.pos, k.tk
  FROM tok k LEFT JOIN spans s
    ON k.doc_id = s.doc_id AND k.pos BETWEEN s.s AND s.e
  WHERE s.doc_id IS NULL),
agg AS (
  SELECT doc_id,
         string_agg(tk, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT toks.doc_id,
       COALESCE(a.clean_text, '') AS clean_text,
       CAST(len(toks.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_removed,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_kept
FROM toks LEFT JOIN agg a USING (doc_id)
"""


@register("dedup_substring_apply", _SUBSTR_APPLY_SQL, bench="paired")
def dedup_substring_apply(spark, sf_dir):
    """Cut every token covered by a corpus-repeated >= 15-token span
    out of every document — the deduplicated-corpus output of the
    exact-substring method, with per-doc removal accounting. The
    oracle rebuilds every cleaned text token-by-token through the
    independent span derivation, so an off-by-one at either span
    edge changes clean_text and fails the value hash.

    Scale shape: the span detector's two linear shuffles + one join
    of the span table (rows = spans << corpus) + a map-side JVM
    higher-order cut; no Python, no explode of the token stream."""

    docs = _t(spark, sf_dir, "documents")
    return remove_repeated_spans(docs, "text", "doc_id", _SUBSTR_L)


# ---------------------------------------------------------------------------
# Cross-set exact-substring decontamination — train spans verbatim-
# covered by the eval set (doc_id % 10 == 0 plays the benchmark).
# ---------------------------------------------------------------------------
_DECONTAM_L = 10

_DECONTAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
wins AS (
  SELECT doc_id, i AS sp, array_to_string(t[i:i+{_DECONTAM_L - 1}], ' ') AS w
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(t) - {_DECONTAM_L} + 2, 1))) AS i)),
ev AS (SELECT DISTINCT w FROM wins WHERE doc_id % 10 = 0),
hits AS (
  SELECT wins.doc_id, wins.sp FROM wins JOIN ev USING (w)
  WHERE wins.doc_id % 10 <> 0),
flags AS (
  SELECT doc_id, sp,
         CASE WHEN sp > COALESCE(MAX(sp + {_DECONTAM_L - 1}) OVER (
                PARTITION BY doc_id ORDER BY sp
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nf
  FROM hits),
grp AS (
  SELECT doc_id, sp, SUM(nf) OVER (PARTITION BY doc_id ORDER BY sp) AS gid
  FROM flags)
SELECT doc_id,
       CAST(MIN(sp) AS BIGINT) AS span_start,
       CAST(MAX(sp) + {_DECONTAM_L - 1} AS BIGINT) AS span_end,
       CAST(MAX(sp) + {_DECONTAM_L - 1} - MIN(sp) + 1 AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, gid
"""


@register("pipeline_substring_decontam", _DECONTAM_SQL, bench="paired")
def pipeline_substring_decontam(spark, sf_dir):
    """Exact-substring train/eval decontamination: maximal train-doc
    spans covered by a verbatim >= 10-token window occurring anywhere
    in the eval split (doc_id % 10 == 0) — the substring-granular
    complement of pipeline_contamination's shingle report, and the
    removal set a decontamination pass feeds to remove_repeated_spans'
    cut machinery.

    Scale shape: the join is keyed on the EVAL side's distinct
    windows — benchmark-sized, not corpus-sized — so at 100 TB the
    eval window set broadcasts and the whole pass is map-side against
    the train scan, plus one doc-keyed interval merge."""

    docs = _t(spark, sf_dir, "documents")
    return contaminated_spans(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        "text",
        "doc_id",
        _DECONTAM_L,
    )


def _pca_blocking_oracle(k: int, iters: int, width: float) -> str:
    allr = " UNION ALL ".join(
        f"SELECT {c} AS comp, i, r FROM r{c}_{iters}" for c in range(1, k + 1)
    )
    pcols = ", ".join(
        f"MAX(CASE WHEN comp = {c} THEN p END) AS p{c}" for c in range(1, k + 1)
    )
    bcols = ", ".join(f"FLOOR(p{c} / {width!r}) AS b{c}" for c in range(1, k + 1))
    on = " AND ".join(f"a.b{c} = b.b{c}" for c in range(1, k + 1))
    d2 = " + ".join(f"(a.p{c} - b.p{c}) * (a.p{c} - b.p{c})" for c in range(1, k + 1))
    return _pca_front(iters, k) + f""",
allr AS MATERIALIZED ({allr}),
doc AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
proj AS MATERIALIZED (SELECT d.vec_id, rc.comp,
                ROUND(SUM((d.v[u.i] - mu.m) * rc.r), 6) AS p
         FROM doc d,
              LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u
         JOIN mu ON mu.i = u.i
         JOIN allr rc ON rc.i = u.i
         GROUP BY d.vec_id, rc.comp),
cells AS MATERIALIZED (
  SELECT vec_id, {pcols} FROM proj GROUP BY vec_id),
blk AS MATERIALIZED (SELECT vec_id, {', '.join(f'p{c}' for c in range(1, k + 1))},
  {bcols} FROM cells)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({d2}, 9) AS dist2
FROM blk a JOIN blk b ON {on} AND a.vec_id < b.vec_id"""


@register("dedup_pca_blocking", _pca_blocking_oracle(3, 8, 1.0))
def dedup_pca_blocking(spark, sf_dir):
    """SemDeDup-style blocking in PCA-reduced space
    (llm/pca.pca_block_pairs): candidate near-dup pairs from shared
    grid cells over the top-3 ROUND(6) projections (cell width a
    power of two → exact division), with the exact reduced-space
    squared distance attached — the cheap pre-filter that bounds
    which pairs ever see a full-dimension verify. One map-side
    projection + one equi-join on the cell key; cost tracks
    colliding pairs, never n². The oracle re-derives loadings,
    projections, cells, and distances independently and hash-matches
    every pair and distance."""
    from stockify_spark.llm.pca import pca_block_pairs

    return pca_block_pairs(
        _t(spark, sf_dir, "embeddings"), k=3, iters=8, width=1.0
    )


# Gram-fold checkpoint for incremental PCA (the r11 verdict's unbounded-
# rebuild item) and the keep-one exact substring dedup face.
#
# Same evidence discipline as the rest of the registry: every query
# has a DuckDB closed-form oracle, builds assert their own invariants,
# scale shapes stated per docstring. North-star surface (SURVEY §7.6)
# — the reference engine (stockify.cu:196-743) has no linear algebra
# or dedup at all.

# ---------------------------------------------------------------------------
# dedup_substring_keepone — the keep-one variant of exact substring
# dedup: cut every occurrence of a corpus-repeated span EXCEPT those
# in the lowest-doc_id document containing it (Lee et al. 2022 deploy
# the remove-all form; keep-one is the deterministic post-filter the
# remove_repeated_spans docstring promises composes on top).
# ---------------------------------------------------------------------------
_KEEPONE_L = 15  # matches dedup_substring_exact's test-scale threshold

_KEEPONE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
wins AS (
  SELECT doc_id, i AS sp, array_to_string(t[i:i+{_KEEPONE_L - 1}], ' ') AS w
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(t) - {_KEEPONE_L} + 2, 1))) AS i)),
keep AS (SELECT w, MIN(doc_id) AS keeper FROM wins
         GROUP BY w HAVING COUNT(*) > 1),
hits AS (SELECT wins.doc_id, wins.sp FROM wins JOIN keep USING (w)
         WHERE wins.doc_id <> keep.keeper),
flags AS (
  SELECT doc_id, sp,
         CASE WHEN sp > COALESCE(MAX(sp + {_KEEPONE_L - 1}) OVER (
                PARTITION BY doc_id ORDER BY sp
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nf
  FROM hits),
grp AS (
  SELECT doc_id, sp,
         SUM(nf) OVER (PARTITION BY doc_id ORDER BY sp) AS gid
  FROM flags)
SELECT doc_id,
       CAST(MIN(sp) AS BIGINT) AS span_start,
       CAST(MAX(sp) + {_KEEPONE_L - 1} AS BIGINT) AS span_end,
       CAST(MAX(sp) + {_KEEPONE_L - 1} - MIN(sp) + 1 AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, gid
"""


@register("dedup_substring_keepone", _KEEPONE_SQL)
def dedup_substring_keepone(spark, sf_dir):
    """Keep-one exact substring dedup: the spans to cut when the
    occurrences living in the LOWEST doc_id per repeated window are
    retained — every occurrence in any other document is removed
    (the per-document keeper rule; Lee et al. 2022 §4 discuss
    retaining one copy of each duplicate). Composition of
    :func:`stockify_spark.llm.dedup.repeated_substring_spans`'s
    verified window stream with a per-window min-keeper rule
    (deterministic, so the output is an exact cross-engine set).

    Scale shape: identical to the remove-all form (hash-keyed
    exchanges, skew-safe groupBy counts) plus ONE more model-shaped
    aggregate — min(doc) per verified window text, joined back on
    the window's (text) key; the keeper table is bounded by the
    duplicated vocabulary, not the corpus. The oracle re-derives
    windows, repeats, keepers, and the interval merge in SQL."""

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return keepone_substring_spans(docs, "text", "doc_id", _KEEPONE_L)


# ---------------------------------------------------------------------------
# pipeline_dedup_ingest_sink — dedup-against-history ingest replayed
# as a scripted 4-batch feed (llm/dedup.dedup_ingest_sink): the
# destination TABLE is the dedup state; each batch dedups within
# itself, anti-joins the accumulated fingerprints, appends
# exactly-once. The r11 verdict's "bench the ingest sinks" item —
# this face also gives the per-batch anti-join a SCALING row.
# ---------------------------------------------------------------------------
_INGEST_SINK_SQL = """
WITH feed AS (
  SELECT doc_id, text, doc_id % 4 AS batch FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 3 AS batch FROM documents
  WHERE doc_id % 4 = 0 AND doc_id % 3 = 0
),
fp AS (
  SELECT doc_id, batch,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM feed
),
r AS (
  SELECT doc_id, fingerprint,
         ROW_NUMBER() OVER (PARTITION BY fingerprint
                            ORDER BY batch, doc_id) AS rn
  FROM fp
)
SELECT doc_id, fingerprint FROM r WHERE rn = 1
"""


@register("pipeline_dedup_ingest_sink", _INGEST_SINK_SQL)
def pipeline_dedup_ingest_sink(spark, sf_dir):
    """Exact dedup-against-history ingest: documents arrive as four
    micro-batches (doc_id % 4), batch 3 additionally REPLAYS a third
    of batch 0's texts under fresh ids (the cross-batch duplicates
    the anti-join must drop). Final table = first (batch, id) winner
    per fingerprint — the oracle states that closed form over the
    same schedule. Batch 2's sink call is replayed mid-feed and must
    be a no-op (the (app, batch-id) idempotency marker).

    Scale shape: per batch, ONE anti-join keyed on the 32-char md5 —
    batch-sized build side against the history scan (at 100 TB:
    bloom file-skip on the fingerprint column turns the scan side
    into bounded IO, llm/dedup.dedup_ingest_sink docstring); the
    table is the state, so restart needs no state-store bootstrap."""

    from stockify_spark.sources import txlog

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(path: str) -> None:
        dst = os.path.join(path, "corpus")
        sink = dedup_ingest_sink(spark, dst, "ingest", "text", "doc_id")
        for b in range(4):
            batch = docs.filter(F.col("doc_id") % 4 == b)
            if b == 3:
                batch = batch.unionByName(
                    docs.filter(
                        (F.col("doc_id") % 4 == 0) & (F.col("doc_id") % 3 == 0)
                    ).select(
                        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
                    )
                )
            sink(batch, b)
            if b == 2:  # at-least-once replay mid-feed: must be a no-op
                v = txlog.current_version(dst)
                sink(batch, b)
                assert txlog.current_version(dst) == v

    root = _scratch_table(
        sf_dir, "ingestsink", build, src_file="documents.parquet"
    )
    return txlog.snapshot(spark, os.path.join(root, "corpus")).select(
        "doc_id", "fingerprint"
    )


# ---------------------------------------------------------------------------
# pipeline_dedup_threshold_sweep — the dedup OPERATING CURVE: pairs
# flagged and documents touched at every candidate Jaccard
# threshold, from ONE candidate-generation pass. The number a
# curation engineer sweeps before committing a threshold to a
# 100 TB dedup run — re-running the pair join per threshold (the
# naive sweep) multiplies the most expensive stage by the number of
# grid points; here the grid is a post-filter on the verified pairs.
# ---------------------------------------------------------------------------
_SWEEP_BASE = 0.4

_SWEEP_GRID = (0.4, 0.5, 0.6, 0.7, 0.8, 0.9)

_SWEEP_SHINGLES = (
    "list_distinct(list_transform(range(greatest(len("
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
    ") - 3, 0) + 1), i -> array_to_string("
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
    "[i + 1:i + 3], ' ')))"
)

_SWEEP_SQL = f"""
WITH s AS (SELECT doc_id, {_SWEEP_SHINGLES} AS sh FROM documents),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS j
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= {_SWEEP_BASE}
),
grid AS (SELECT CAST(unnest([{", ".join(str(t) for t in _SWEEP_GRID)}]) AS DOUBLE) AS threshold),
np AS (SELECT g.threshold, CAST(COUNT(p.id_a) AS BIGINT) AS n_pairs
       FROM grid g LEFT JOIN pairs p ON p.j >= g.threshold
       GROUP BY g.threshold),
nd AS (SELECT threshold, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM (SELECT g.threshold, p.id_a AS doc_id
             FROM grid g JOIN pairs p ON p.j >= g.threshold
             UNION
             SELECT g.threshold, p.id_b
             FROM grid g JOIN pairs p ON p.j >= g.threshold)
       GROUP BY threshold)
SELECT np.threshold, np.n_pairs,
       COALESCE(nd.n_docs, 0) AS n_docs_flagged
FROM np LEFT JOIN nd ON nd.threshold = np.threshold
"""


@register("pipeline_dedup_threshold_sweep", _SWEEP_SQL)
def pipeline_dedup_threshold_sweep(spark, sf_dir):
    """Dedup threshold operating curve: (n_pairs, n_docs_flagged) at
    Jaccard thresholds 0.4..0.9, all derived from ONE prefix-filtered
    candidate join at the base threshold 0.4 — higher thresholds are
    subsets, so the sweep is a narrow post-filter of the verified
    pair table crossed with the 6-point grid (never 6 joins). The
    ROUND(6) jaccard column and identical threshold literals make
    every comparison exact cross-engine; the oracle brute-forces all
    pairs and re-derives the curve independently.

    Scale shape: candidate generation once (the AllPairs prefix
    filter of ngram_jaccard_pairs); the sweep works on the PAIR
    table (duplicated-fraction-sized), so grid resolution is free at
    any corpus size."""

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=_SWEEP_BASE
    )
    grid = spark.createDataFrame(
        [(float(t),) for t in _SWEEP_GRID], "threshold double"
    )
    hit = grid.join(pairs, pairs["jaccard"] >= grid["threshold"], "left")
    docs_per = hit.select(
        "threshold",
        F.explode(
            F.when(
                F.col("id_a").isNotNull(),
                F.array(F.col("id_a"), F.col("id_b")),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("doc_id"),
    )
    n_pairs = hit.groupBy("threshold").agg(
        F.count("id_a").alias("n_pairs")
    )
    n_docs = docs_per.groupBy("threshold").agg(
        F.countDistinct("doc_id").alias("n_docs_flagged")
    )
    return (
        n_pairs.join(n_docs, "threshold", "left")
        .select(
            "threshold",
            "n_pairs",
            F.coalesce("n_docs_flagged", F.lit(0)).alias("n_docs_flagged"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_near_ingest_indexed — the bloom-indexed near-dup ingest
# sink (llm/dedup.near_dedup_ingest_sink_indexed): the r12 verdict's
# "prove the per-batch probe is bounded by the batch, not the
# destination" item. Near-dup survivor sets are not SQL-computable
# (the banding step is a probabilistic candidate generator), so the
# oracle states the INVARIANTS the indexed form must satisfy instead:
# survivor parity with the linear-scan sink on the same scheduled
# feed, every planted cross-batch duplicate dropped, zero data files
# opened by an all-absent band-key probe, and replay idempotence on
# both the corpus and the index table.
# ---------------------------------------------------------------------------
_NEAR_IDX_SQL = """
SELECT TRUE  AS survivor_parity,
       CAST(0 AS BIGINT) AS n_only_plain,
       CAST(0 AS BIGINT) AS n_only_indexed,
       CAST(0 AS BIGINT) AS planted_dups_kept,
       CAST(0 AS BIGINT) AS absent_probe_files,
       TRUE  AS replay_noop
"""


@register("pipeline_near_ingest_indexed", _NEAR_IDX_SQL)
def pipeline_near_ingest_indexed(spark, sf_dir):
    """Near-dup dedup-against-history ingest through the bloom-
    indexed sink, checked against the linear-scan sink on the same
    4-batch documents feed (batch 3 replays a third of batch 0's
    texts under fresh ids). The indexed probe answers from a
    band-key index table (bk blooms attached incrementally per
    batch) instead of scanning every stored signature: per-batch IO
    is bounded by the batch's keys and the true collision density —
    an all-absent probe opens ZERO files — while the drop decisions
    stay IDENTICAL to the exhaustive scan (the oracle's parity
    invariant; exact-duplicate replays collide in every band, so
    their drop is deterministic, not probabilistic).

    Scale shape: the linear residual is driver-side bloom bit tests,
    O(index_files × batch_keys) with no IO; txlog.maintain's
    small-file compaction bounds index_files, and attach_bloom
    (missing_only) re-blooms compacted files batch-sized."""

    from stockify_spark.sources import txlog

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(path: str) -> None:
        plain_dst = os.path.join(path, "plain")
        idx_dst = os.path.join(path, "indexed")
        plain = near_dedup_ingest_sink(spark, plain_dst, "p", "text", "doc_id")
        indexed = near_dedup_ingest_sink_indexed(
            spark, idx_dst, "i", "text", "doc_id"
        )
        for b in range(4):
            batch = docs.filter(F.col("doc_id") % 4 == b)
            if b == 3:
                batch = batch.unionByName(
                    docs.filter(
                        (F.col("doc_id") % 4 == 0) & (F.col("doc_id") % 3 == 0)
                    ).select(
                        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
                    )
                )
            batch = batch.localCheckpoint()
            plain(batch, b)
            indexed(batch, b)
            if b == 2:  # at-least-once replay mid-feed on the indexed
                v_dst = txlog.current_version(idx_dst)
                v_idx = txlog.current_version(idx_dst + "_bandidx")
                indexed(batch, b)
                ok = (
                    txlog.current_version(idx_dst) == v_dst
                    and txlog.current_version(idx_dst + "_bandidx") == v_idx
                )
                with open(os.path.join(path, "replay_ok"), "w") as f:
                    f.write("1" if ok else "0")

    root = _scratch_table(sf_dir, "nearidx", build, src_file="documents.parquet")
    plain_ids = txlog.snapshot(spark, os.path.join(root, "plain")).select("doc_id")
    idx_ids = txlog.snapshot(spark, os.path.join(root, "indexed")).select("doc_id")
    only_plain = plain_ids.join(idx_ids, "doc_id", "left_anti").count()
    only_idx = idx_ids.join(plain_ids, "doc_id", "left_anti").count()
    # a planted copy whose ORIGINAL survived must be dropped (exact
    # dups of a history survivor collide in every band — the drop is
    # deterministic); a copy whose original was itself dropped
    # within-batch has no such guarantee, so it is excluded here
    surviving_originals = idx_ids.filter(F.col("doc_id") < 1_000_000).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    planted_kept = (
        idx_ids.filter(F.col("doc_id") >= 1_000_000)
        .join(surviving_originals, "doc_id", "left_semi")
        .count()
    )
    absent_files = len(
        txlog.snapshot_point_any(
            spark,
            os.path.join(root, "indexed") + "_bandidx",
            "bk",
            ["999:absent,band,key"],
        ).inputFiles()
    )
    with open(os.path.join(root, "replay_ok")) as f:
        replay_ok = f.read() == "1"
    return spark.createDataFrame(
        [
            (
                only_plain == 0 and only_idx == 0,
                only_plain,
                only_idx,
                planted_kept,
                absent_files,
                replay_ok,
            )
        ],
        "survivor_parity boolean, n_only_plain long, n_only_indexed long,"
        " planted_dups_kept long, absent_probe_files long, replay_noop boolean",
    )


# ---------------------------------------------------------------------------
# pipeline_epoch_allocation — data-constrained multi-epoch budgeting
# ---------------------------------------------------------------------------
_EPOCH_CAP = 4.0    # max epochs any source may repeat

_RSTAR = 2.5        # diminishing-returns constant (Muennighoff et al. 2023,


                    # where repeated tokens decay with R* ≈ a few epochs)
_TAU = 0.5          # sampling temperature for the source weights

_EPOCH_SQL = f"""
WITH t AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS tokens
  FROM documents GROUP BY 1),
w AS (SELECT source, tokens, pow(tokens, {_TAU}) AS wt FROM t),
g AS (SELECT SUM(tokens) AS total, SUM(wt) AS wsum FROM w),
a AS (
  SELECT source, tokens,
         wt / wsum AS share,
         least({_EPOCH_CAP}, (2 * total) * (wt / wsum) / tokens) AS epochs
  FROM w CROSS JOIN g)
SELECT source,
       CAST(tokens AS BIGINT) AS n_tokens,
       ROUND(share, 6) AS share,
       ROUND(epochs, 6) AS epochs,
       ROUND(epochs * tokens, 2) AS allocated_tokens,
       ROUND(tokens * {_RSTAR} * (1 - exp(-epochs / {_RSTAR})), 2)
         AS effective_tokens
FROM a
"""


@register("pipeline_epoch_allocation", _EPOCH_SQL)
def pipeline_epoch_allocation(spark, sf_dir):
    """Data-constrained epoch allocation: split a token budget of
    2× the corpus across sources by temperature-flattened weights
    (τ=0.5 — the share pipeline_temperature_mix computes), cap any
    source at 4 epochs, and report EFFECTIVE tokens under the
    diminishing-returns discount of repeated data
    (tokens·R*·(1-e^(-epochs/R*)), the exponential-decay form fit in
    Muennighoff et al. 2023's data-constrained scaling laws). The
    gap between allocated and effective tokens is the quantity that
    tells a budget owner when repeating a small high-weight source
    stops paying.

    Shape: one exploded-free token count per source (len(split) is a
    map-side expression — the corpus is scanned once, no explode),
    one 20-row aggregate, scalar arithmetic after a broadcast of the
    two totals."""
    t = _t(spark, sf_dir, "documents").groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("double").alias("tokens")
    )
    w = t.withColumn("wt", F.pow("tokens", _TAU))
    g = w.agg(F.sum("tokens").alias("total"), F.sum("wt").alias("wsum"))
    a = w.crossJoin(F.broadcast(g)).select(
        "source",
        "tokens",
        (F.col("wt") / F.col("wsum")).alias("share"),
        F.least(
            F.lit(_EPOCH_CAP),
            (2 * F.col("total")) * (F.col("wt") / F.col("wsum")) / F.col("tokens"),
        ).alias("epochs"),
    )
    return a.select(
        "source",
        F.col("tokens").cast("bigint").alias("n_tokens"),
        F.round("share", 6).alias("share"),
        F.round("epochs", 6).alias("epochs"),
        F.round(F.col("epochs") * F.col("tokens"), 2).alias("allocated_tokens"),
        F.round(
            F.col("tokens") * _RSTAR * (1 - F.exp(-F.col("epochs") / _RSTAR)), 2
        ).alias("effective_tokens"),
    )


# ---------------------------------------------------------------------------
# pipeline_dedup_impact — before/after report for exact dedup
# ---------------------------------------------------------------------------
_IMPACT_SQL = """
WITH t AS (SELECT doc_id, text, len(string_split(text, ' ')) AS toks
           FROM documents),
k AS (SELECT text, MIN(doc_id) AS keeper, CAST(COUNT(*) AS BIGINT) AS n,
             MAX(toks) AS toks
      FROM t GROUP BY text)
SELECT CAST(SUM(n) AS BIGINT) AS docs_before,
       CAST(COUNT(*) AS BIGINT) AS docs_after,
       CAST(SUM(n * toks) AS BIGINT) AS tokens_before,
       CAST(SUM(toks) AS BIGINT) AS tokens_after,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS docs_removed,
       ROUND(1 - COUNT(*) / CAST(SUM(n) AS DOUBLE), 6) AS doc_dup_ratio,
       ROUND(1 - SUM(toks) / CAST(SUM(n * toks) AS DOUBLE), 6)
         AS token_dup_ratio,
       CAST(MAX(n) AS BIGINT) AS largest_dup_group
FROM k
"""


@register("pipeline_dedup_impact", _IMPACT_SQL)
def pipeline_dedup_impact(spark, sf_dir):
    """The exact-dedup impact report: documents and whitespace tokens
    before vs after first-wins dedup on full text, the removal
    ratios on both axes (token-weighted duplication is the number
    that predicts training impact — a few duplicated long documents
    move it more than many short ones), and the largest duplicate
    group (the smoking gun a curation review opens first). States
    dedup_exact's EFFECT as one row, the form a pipeline gate
    consumes — run it before paying for the rewrite.

    Shape: one groupBy on the content key (the skew-safe exact-dedup
    shuffle dedup_exact already uses — at 100 TB the key is a
    fixed-width hash of text, same cost model), then one 8-column
    fold of the group table."""
    t = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.size(F.split("text", " ")).alias("toks")
    )
    k = t.groupBy("text").agg(
        F.min("doc_id").alias("keeper"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("toks").alias("toks"),
    )
    return k.agg(
        F.sum("n").cast("bigint").alias("docs_before"),
        F.count(F.lit(1)).cast("bigint").alias("docs_after"),
        F.sum(F.col("n") * F.col("toks")).cast("bigint").alias("tokens_before"),
        F.sum("toks").cast("bigint").alias("tokens_after"),
        (F.sum("n") - F.count(F.lit(1))).cast("bigint").alias("docs_removed"),
        F.round(1 - F.count(F.lit(1)) / F.sum("n").cast("double"), 6).alias(
            "doc_dup_ratio"
        ),
        F.round(
            1 - F.sum("toks") / F.sum(F.col("n") * F.col("toks")).cast("double"), 6
        ).alias("token_dup_ratio"),
        F.max("n").cast("bigint").alias("largest_dup_group"),
    )
