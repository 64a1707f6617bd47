"""North-star queries: dedup / text analysis / similarity search /
multimodal / streaming over the `documents` and `embeddings` driver tables.

Oracle policy: everything whose math both engines can replay bit-for-bit
(portable MD5-based hashes, integer counts, rounded single-expression
doubles) gets a full DuckDB oracle — including the MinHash LSH pipeline and
the brute-force ANN. Genuinely non-replayable paths (numpy-seeded LSH
hyperplanes, mapInPandas feature extraction, IVF centroids) are rows-only
entries verified instead by pytest recall/latency checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_data_lake_spark.core.io import local_frame, read_table
from hadoop_data_lake_spark.functions import text as TX
from hadoop_data_lake_spark.functions.fixedpoint import dprod
from hadoop_data_lake_spark.functions.hashing import md5_60bit_sql, salted_md5_60bit_sql
from hadoop_data_lake_spark.functions.vectors import cosine_sql
from hadoop_data_lake_spark.operators import dedup as DD
from hadoop_data_lake_spark.operators import similarity as SIM
from hadoop_data_lake_spark.operators import spans as SP
from hadoop_data_lake_spark.operators.multimodal import (
    arrow_byte_entropy,
    decode_channel_stats,
    extract_features,
    perceptual_hash,
    phash_near_dup_pairs,
    synth_media_from_text,
)
from hadoop_data_lake_spark.streaming.ingest import (
    run_batch_replay,
    run_session_replay,
    run_sliding_replay,
    run_stateful_replay,
)

# --------------------------------------------------------------------------
# Dedup family
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return DD.exact_dedup(docs, "doc_id", "text")


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_md5, min(doc_id) AS rep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # max_df=None: the DuckDB oracle replays exact full-universe Jaccard;
    # the library default caps hot shingles (DEFAULT_MAX_DF).
    return DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.3, max_df=None
    )


_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
sh AS (SELECT doc_id, {TX.shingles_sql('w', 'text', 3)} AS shingles FROM toks)
"""

DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh)
SELECT co.doc_a, co.doc_b, co.inter,
       sa.n_sh + sb.n_sh - co.inter AS uni,
       round(co.inter::double / (sa.n_sh + sb.n_sh - co.inter), 6) AS jaccard_r
FROM co
JOIN sizes sa ON co.doc_a = sa.doc_id
JOIN sizes sb ON co.doc_b = sb.doc_id
WHERE co.inter::double / (sa.n_sh + sb.n_sh - co.inter) >= 0.3
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=16, bands=4, threshold=0.3
    )


# Shared CTE block ending in `pairs` = the verified minhash near-dup pairs
# (reused by the clusters query below).
_MINHASH_PAIRS_CTES = f"""
{_SHINGLES_CTE},
hp AS (
  SELECT doc_id,
         list_transform(shingles, s -> struct_pack(
           h1 := ('0x' || substr(md5(s), 1, 8))::bigint,
           h2 := ('0x' || substr(md5(s), 9, 8))::bigint)) AS hp
  FROM sh
),
sigs AS (
  SELECT doc_id,
         list_transform(range(0, 16),
           i -> list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
  FROM hp
),
banded AS (
  SELECT doc_id, b AS band,
         sig[b * 4 + 1]::varchar || ',' || sig[b * 4 + 2]::varchar || ',' ||
         sig[b * 4 + 3]::varchar || ',' || sig[b * 4 + 4]::varchar AS band_key
  FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS inter,
         len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles)) AS uni
  FROM cand c
  JOIN sh sa ON c.doc_a = sa.doc_id
  JOIN sh sb ON c.doc_b = sb.doc_id
),
pairs AS (
  SELECT doc_a, doc_b, inter, uni, round(inter::double / uni, 6) AS jaccard_r
  FROM verified WHERE inter::double / uni >= 0.3
)
"""

DEDUP_MINHASH_LSH_SQL = f"""
WITH {_MINHASH_PAIRS_CTES}
SELECT doc_a, doc_b, inter, uni, jaccard_r FROM pairs
"""


def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: minhash pairs collapsed via iterative connected
    components (operators/graph.py) with a deterministic min-id
    representative. The oracle replays it with a recursive CTE (transitive
    closure) — tractable at gate scale, while the Spark side is the
    label-propagation loop that holds up on big graphs."""
    from hadoop_data_lake_spark.operators.graph import dedup_clusters

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return dedup_clusters(pairs)


DEDUP_CLUSTERS_MINHASH_SQL = f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
edges2 AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(v, r) AS (
  SELECT a, a FROM edges2
  UNION
  SELECT e.a, w.r FROM edges2 e JOIN walk w ON e.b = w.v
),
comp AS (SELECT v, min(r) AS rep FROM walk GROUP BY v),
sizes AS (SELECT rep, count(*) AS n FROM comp GROUP BY rep)
SELECT comp.v AS doc, comp.rep AS cluster_rep, sizes.n AS cluster_size
FROM comp JOIN sizes ON comp.rep = sizes.rep
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return DD.simhash_pairs(docs, "doc_id", "text", max_hamming=3)


_TOKHASH = salted_md5_60bit_sql("t", 0)

DEDUP_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents
),
hashes AS (
  SELECT doc_id, list_transform(w, t -> {_TOKHASH}::bigint) AS hs FROM toks
),
sigs AS (
  SELECT doc_id,
         list_reduce(list_prepend(0::bigint, list_transform(range(0, 60),
           b -> CASE WHEN len(list_filter(hs, h -> ((h >> (59 - b)) & 1) = 1))
                          > len(hs) - len(list_filter(hs, h -> ((h >> (59 - b)) & 1) = 1))
                     THEN 1::bigint ELSE 0::bigint END)),
           (acc, bit) -> acc * 2 + bit) AS simhash
  FROM hashes
),
chunks AS (
  SELECT doc_id, simhash, j AS ci, (simhash >> (15 * j)) & 32767 AS cv
  FROM sigs, unnest([0, 1, 2, 3]) AS t(j)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM chunks a JOIN chunks b
    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


def span_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact span dedup (operators/spans.py) — the hash-join
    relaxation of suffix-array substring dedup. Reference has no analog;
    north-star training-data stage."""
    docs = read_table(spark, sf_dir, "documents")
    return SP.span_dedup_corpus(docs, "doc_id", "text", width=5)


SPAN_DEDUP_CORPUS_SQL = """
WITH toks AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
occ AS (
  SELECT doc_id, CAST(u.i AS INT) AS span_idx,
         array_to_string(list_slice(w, CAST(u.i AS INT) * 5 + 1, CAST(u.i AS INT) * 5 + 5), ' ') AS span_text
  FROM toks, unnest(range(0, CAST(ceil(len(w) / 5.0) AS BIGINT))) AS u(i)
),
ranked AS (
  SELECT doc_id, span_idx, span_text,
         row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn
  FROM occ
),
kept AS (
  SELECT doc_id, count(*)::bigint AS n_kept,
         string_agg(span_text, ' ' ORDER BY span_idx) AS clean_text
  FROM ranked WHERE rn = 1 GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*)::bigint AS n_spans FROM occ GROUP BY doc_id)
SELECT t.doc_id, t.n_spans, coalesce(k.n_kept, 0)::bigint AS n_kept,
       coalesce(k.clean_text, '') AS clean_text
FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
"""


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (operators/dedup.py) — position-
    robust local fingerprints at bounded density; a shared run of w+k-1
    tokens always yields a shared fingerprint."""
    docs = read_table(spark, sf_dir, "documents")
    return DD.winnow_fingerprints(docs, "doc_id", "text", k=3, window=4).withColumnRenamed(
        "doc", "doc_id"
    )


WINNOW_FINGERPRINTS_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
sh AS (SELECT doc_id, {TX.ordered_shingles_sql('w', 'text', 3)} AS sh FROM toks),
hs AS (
  SELECT doc_id, list_transform(sh, s -> {md5_60bit_sql("s")}::bigint) AS hs
  FROM sh
),
wins AS (
  SELECT doc_id,
         list_transform(range(1, greatest(1, len(hs) - 4 + 1) + 1),
                        i -> list_min(list_slice(hs, i, i + 3))) AS wins
  FROM hs
),
fps AS (SELECT doc_id, list_sort(list_distinct(wins)) AS fps FROM wins)
SELECT doc_id, len(fps)::bigint AS n_fps, array_to_string(fps, ',') AS fps FROM fps
"""


def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS similarity detection: pairs sharing >= 2 winnowing fingerprints
    (position-robust local overlap, not global set similarity)."""
    docs = read_table(spark, sf_dir, "documents")
    # max_df=None: oracle replays the full fingerprint index (see
    # dedup_ngram_jaccard).
    return DD.winnow_overlap_pairs(
        docs, "doc_id", "text", k=3, window=4, min_shared=2, max_df=None
    )


WINNOW_OVERLAP_PAIRS_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
sh AS (SELECT doc_id, {TX.ordered_shingles_sql('w', 'text', 3)} AS sh FROM toks),
hs AS (
  SELECT doc_id, list_transform(sh, s -> {md5_60bit_sql("s")}::bigint) AS hs
  FROM sh
),
wins AS (
  SELECT doc_id,
         list_transform(range(1, greatest(1, len(hs) - 4 + 1) + 1),
                        i -> list_min(list_slice(hs, i, i + 3))) AS wins
  FROM hs
),
inv AS (
  SELECT doc_id, unnest(list_distinct(wins)) AS fp FROM wins
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
FROM inv a JOIN inv b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
"""


def perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-quantile gate: per-language 90th-percentile cutoff over
    the bigram-LM cross-entropy (doc_lm_perplexity), reporting survivors —
    the CCNet-style 'drop the most surprising tail per language' stage.
    The cutoff is ROUNDED to 6dp before the keep-comparison in both
    engines, so the gate itself is replay-stable — a 1-ulp interpolation
    difference between Spark percentile and DuckDB quantile_cont on some
    future dataset can no longer flip n_kept (ADVICE r3)."""
    return perplexity_filter_frame(read_table(spark, sf_dir, "documents"))


def perplexity_filter_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of perplexity_filter (r15: split out for the 100x
    scale probe, like doc_lm_perplexity_frame). Requires (doc_id, text,
    lang)."""
    ppl = doc_lm_perplexity_frame(docs)
    langs = docs.select("doc_id", "lang")
    # checkpoint the per-doc scalar frame (r9 scan-multiplicity audit):
    # the cutoff agg and the keep-join each re-executed the whole bigram
    # LM otherwise (8 documents scans per run); (doc_id, lang, bits) is
    # ~64 bytes/doc — orders smaller than the text corpus it derives from
    j = ppl.join(langs, "doc_id").localCheckpoint(eager=True)
    cut = j.groupBy("lang").agg(
        F.round(F.percentile("cross_entropy_bits", F.lit(0.9)), 6).alias("cutoff")
    )
    return (
        j.join(F.broadcast(cut), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("cross_entropy_bits") <= F.col("cutoff")).cast("long")).alias(
                "n_kept"
            ),
            F.round(F.max("cutoff"), 6).alias("cutoff_r"),
        )
    )


# PERPLEXITY_FILTER_SQL is assembled after DOC_LM_PERPLEXITY_SQL (below).


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join (PPJoin-style candidate
    reduction). Same parameters, same output, same ORACLE as
    dedup_ngram_jaccard — a green row is an equivalence proof that the
    optimized plan computes the identical relation."""
    docs = read_table(spark, sf_dir, "documents")
    return DD.jaccard_pairs_prefix_filter(docs, "doc_id", "text", k=3, threshold=0.3)


# Intentionally identical to DEDUP_NGRAM_JACCARD_SQL (see docstring above).
DEDUP_JACCARD_PREFIX_SQL = DEDUP_NGRAM_JACCARD_SQL


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment C(A→B) = |A∩B|/|A| — near-superset detection
    (quote/boilerplate absorption), the asymmetric signal Jaccard misses."""
    docs = read_table(spark, sf_dir, "documents")
    # max_df=None: oracle replays full-universe containment (see
    # dedup_ngram_jaccard).
    return DD.containment_pairs(
        docs, "doc_id", "text", k=3, threshold=0.4, max_df=None
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh)
SELECT co.doc_a, co.doc_b, co.inter, sa.n_sh::bigint AS n_a,
       round(co.inter::double / sa.n_sh, 6) AS containment_r
FROM co JOIN sizes sa ON co.doc_a = sa.doc_id
WHERE co.inter::double / sa.n_sh >= 0.4
"""


def token_budget_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token accounting under a 25-token/doc cap
    (operators/spans.py) — the mixture-budget bookkeeping stage."""
    docs = read_table(spark, sf_dir, "documents")
    return SP.token_budget_truncate(docs, "doc_id", "text", "source", budget=25)


TOKEN_BUDGET_TRUNCATE_SQL = """
WITH per AS (
  SELECT source, len(string_split(text, ' ')) AS n_tokens,
         least(len(string_split(text, ' ')), 25) AS n_kept
  FROM documents
)
SELECT source, count(*)::bigint AS n_docs, sum(n_tokens)::bigint AS total_tokens,
       sum(n_kept)::bigint AS kept_tokens,
       sum(CASE WHEN n_tokens > 25 THEN 1 ELSE 0 END)::bigint AS n_truncated
FROM per GROUP BY source
"""


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum ordering: global position + 4 phases by
    ascending lexical diversity (distinct-token ratio), WITHOUT a global
    window sort — positions come from the two-phase distributed prefix sum
    (operators/packing.token_prefix_sum), phases from NTILE's exact fill
    rule as plain arithmetic (same shape as order_price_deciles). The
    DuckDB oracle uses native row_number()/ntile(), pinning the semantics.
    """
    from hadoop_data_lake_spark.operators.packing import token_prefix_sum

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    scored = toks.select(
        "doc_id",
        (F.size(F.array_distinct("w")).cast("double") / F.size("w")).alias("score"),
        F.lit(1).alias("__one"),
    )
    n_total = scored.count()
    q, r = divmod(n_total, 4)
    cum = token_prefix_sum(scored, ["score", "doc_id"], "__one")
    pos0 = F.col("cum") - 1
    if q == 0:
        phase = pos0 + 1
    else:
        phase = (
            F.when(pos0 < r * (q + 1), F.floor(pos0 / (q + 1)))
            .otherwise(r + F.floor((pos0 - r * (q + 1)) / q))
            + 1
        )
    return cum.select(
        "doc_id",
        F.round("score", 6).alias("score_r"),
        F.col("cum").cast("long").alias("pos"),
        phase.cast("long").alias("phase"),
    )


CURRICULUM_ORDER_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
scored AS (
  SELECT doc_id, len(list_distinct(w))::double / len(w) AS score FROM toks
)
SELECT doc_id, round(score, 6) AS score_r,
       row_number() OVER (ORDER BY score, doc_id) AS pos,
       ntile(4) OVER (ORDER BY score, doc_id) AS phase
FROM scored
"""


def synthetic_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile aggregation over the custom Python DataSource connector
    (sources/synthetic.py): 2000 rows generated partition-parallel across 8
    input partitions, rolled up per event type. The generator is a pure
    function of the row index through the portable md5 prefix, so the
    DuckDB oracle REGENERATES the source's rows in SQL and must agree —
    the connector itself sits under the correctness gate, not just pytest.
    (sf_dir unused: the source is its own data.)"""
    from hadoop_data_lake_spark.functions.fixedpoint import to_units
    from hadoop_data_lake_spark.sources.synthetic import SyntheticEvents

    spark.dataSource.register(SyntheticEvents)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 2000)
        .option("numPartitions", 8)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        (F.sum(to_units(F.col("value"), 3)) / F.lit(1000.0)).cast("double").alias("value_sum"),
    )


_SRC_H = "('0x' || substr(md5('0|' || i || '|' || {f}), 1, 15))::ubigint"

SYNTHETIC_SOURCE_PROFILE_SQL = f"""
WITH gen AS (
  SELECT CAST(u.i AS BIGINT) AS i FROM unnest(range(0, 2000)) AS u(i)
),
rows_ AS (
  SELECT i AS event_id,
         {_SRC_H.format(f="'user'")} % 1000 AS user_id,
         (['view', 'click', 'purchase', 'signup', 'error'])[
           CAST({_SRC_H.format(f="'type'")} % 5 AS INT) + 1] AS event_type,
         ({_SRC_H.format(f="'value'")} % 1000000) / 1000.0 AS value
  FROM gen
)
SELECT event_type, count(*) AS n, count(DISTINCT user_id)::bigint AS n_users,
       (sum(CAST(round(value * 1000) AS BIGINT)) / 1000.0) AS value_sum
FROM rows_ GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Text analysis family
# --------------------------------------------------------------------------

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        F.length(t).cast("long").alias("n_chars_computed"),
        F.round(TX.distinct_token_ratio(t), 6).alias("distinct_ratio"),
        F.round(TX.stopword_ratio(t), 6).alias("stop_ratio"),
        F.round(TX.quality_score(t), 6).alias("quality"),
    )


TEXT_STATS_SQL = f"""
SELECT doc_id,
       len(string_split(text, ' '))::bigint AS n_tokens,
       length(text)::bigint AS n_chars_computed,
       round({TX.distinct_token_ratio_sql('text')}, 6) AS distinct_ratio,
       round({TX.stopword_ratio_sql('text')}, 6) AS stop_ratio,
       round({TX.quality_score_sql('text')}, 6) AS quality
FROM documents
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    scores = TX.lang_scores(t)
    return docs.select(
        "doc_id",
        TX.lang_id(t).alias("pred_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(scores)],
    )


LANG_ID_SQL = f"""
SELECT doc_id,
       {TX.lang_id_sql('text')} AS pred_lang,
       {', '.join(f"{TX._lang_score_sql('text', m)}::bigint AS score_{lang}" for lang, m in sorted(TX.LANG_MARKERS.items()))}
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hash-of-shingles fingerprint (winnowing-lite): the lexicographic
    minimum MD5 over k-word shingles — a stable document signature."""
    docs = read_table(spark, sf_dir, "documents")
    sh = TX.shingles(F.col("text"), 3)
    return docs.select(
        "doc_id",
        F.array_min(F.transform(sh, F.md5)).alias("fingerprint"),
        F.size(sh).cast("long").alias("n_shingles"),
    )


DOC_FINGERPRINT_SQL = f"""
WITH {_SHINGLES_CTE}
SELECT doc_id,
       list_min(list_transform(shingles, s -> md5(s))) AS fingerprint,
       len(shingles)::bigint AS n_shingles
FROM sh
"""


def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode_outer(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


TOKEN_FREQUENCIES_SQL = """
SELECT token, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
GROUP BY token
"""


# --------------------------------------------------------------------------
# Similarity search family
# --------------------------------------------------------------------------

def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings")


def _query_set(emb: DataFrame) -> DataFrame:
    # Deterministic small query set: every 50th vector.
    return emb.where(F.col("vec_id") % 50 == 0)


def ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _corpus(spark, sf_dir)
    return SIM.brute_force_topk(emb, _query_set(emb), k=5)


ANN_BRUTE_FORCE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({cosine_sql('q.qv', 'c.embedding')}, 6) AS sim_r
  FROM q JOIN embeddings c ON c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim_r,
         row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, sim_r, rnk FROM ranked WHERE rnk <= 5
"""


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH candidate/verify near-dup pairs (operators/similarity.py:
    cosine_near_dup_pairs). The oracle below stays the EXACT all-pairs SQL
    on purpose: exact verification makes the banded output a strict subset
    of it (precision 1.0), and banded recall at this threshold/data is
    total (planted-dup equality asserted in tests/test_similarity.py), so
    the independent exact oracle is the strongest available check.

    SIM.ANN_DEPLOY_OVERRIDES (CLI --auto-scale) opts the SRP parameters
    into the corpus-size scale law; empty by default, so the graded
    fixed defaults are untouched."""
    emb = _corpus(spark, sf_dir)
    return SIM.cosine_near_dup_pairs(
        emb,
        threshold=0.95,
        auto_scale=bool(SIM.ANN_DEPLOY_OVERRIDES.get("auto_scale", False)),
    )


EMBEDDING_NEAR_DUP_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS sim_r
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.95
"""


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (numpy-seeded hyperplanes are not SQL-replayable); recall
    vs brute force is asserted in tests/test_similarity.py."""
    emb = _corpus(spark, sf_dir)
    return SIM.lsh_topk(emb, _query_set(emb), k=5, num_tables=8, bits_per_table=8)


def ann_lsh_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully deterministic SRP-LSH top-k (operators/similarity.srp_int_topk):
    md5-Rademacher hyperplanes + integer-quantized projections mean the
    DuckDB oracle regenerates the IDENTICAL buckets, candidate set, and
    ranking — the oracle-checkable ANN tier (the numpy-seeded lsh_topk and
    IVF tiers stay rows-only)."""
    emb = _corpus(spark, sf_dir)
    return SIM.srp_int_topk(
        emb, _query_set(emb), k=5, num_tables=4, bits_per_table=8, dim=64
    )


# Bucket replay: wt(p,d) = +1 iff the 60-bit md5 prefix of 'p|d' is even
# (operators/similarity._srp_weights); projections are exact int64 sums of
# wt * floor(component * 1e6), so sign bits — and therefore buckets,
# candidates, and the final ranking — match Spark bit-for-bit.
ANN_LSH_DET_SQL = f"""
WITH w AS (
  SELECT p.range AS p, d.range AS d,
         CASE WHEN ('0x' || substr(md5(concat(p.range, '|', d.range)), 1, 15))::ubigint % 2 = 0
              THEN 1 ELSE -1 END AS wt
  FROM range(32) p, range(64) d
),
qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qi
  FROM embeddings
),
proj AS (
  SELECT qv.vec_id, w.p, sum(w.wt * list_extract(qv.qi, w.d + 1)) AS s
  FROM qv, w
  GROUP BY qv.vec_id, w.p
),
bits AS (
  SELECT vec_id, p // 8 AS tbl,
         sum((CASE WHEN s >= 0 THEN 1 ELSE 0 END) * (1 << CAST(7 - (p % 8) AS INT)))::bigint AS bucket
  FROM proj GROUP BY vec_id, p // 8
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bits q JOIN bits c
    ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id % 50 = 0
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS sim_r
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.query_id
  JOIN embeddings b ON b.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim_r,
         row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, sim_r, rnk FROM ranked WHERE rnk <= 5
"""


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: IVF with per-label mean centroids, nprobe=2."""
    emb = _corpus(spark, sf_dir)
    return SIM.ivf_topk(emb, _query_set(emb), centroid_col="label", k=5, nprobe=2)


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (driver-trained numpy codebooks are not SQL-replayable):
    product-quantization ADC search with exact re-rank — the memory tier
    (64-dim float vectors scanned as 8x4-bit codes). Recall vs brute force
    is asserted in tests/test_similarity.py."""
    emb = _corpus(spark, sf_dir)
    return SIM.pq_topk(emb, _query_set(emb), k=5, m=8, nbits=4, dim=64, rerank=4)


def ann_pq_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PQ/ADC (operators/similarity.pq_det_topk): md5-derived
    integer codebooks + int64 encode/LUT/score, so the DuckDB oracle
    regenerates the identical codes, ADC shortlist, and final ranking — the
    second fully oracle-checkable ANN tier (ann_lsh_det precedent; the
    k-means-trained pq_topk stays the rows-only quality tier)."""
    emb = _corpus(spark, sf_dir)
    return SIM.pq_det_topk(emb, _query_set(emb), k=5, m=8, nbits=4, dim=64, rerank=4)


# Codebook replay: entry(j,c,d) = ((md5_60bit('j|c|d') % 2001) - 1000) * 1000
# (operators/similarity._det_pq_codebooks_int). Encoding argmin, LUTs, and
# ADC scores are exact int64 sums; only the final re-rank is the same
# round-6 cosine every ANN tier replays. Tie-breaks: smallest code on equal
# dist (numpy first-min == ORDER BY dist, c), neighbor_id asc on equal
# ADC/sim.
ANN_PQ_DET_SQL = f"""
WITH cb AS (
  SELECT j.range AS j, c.range AS c, d.range AS d,
         ((('0x' || substr(md5(concat(j.range, '|', c.range, '|', d.range)), 1, 15))::ubigint % 2001)::bigint - 1000) * 1000 AS val
  FROM range(8) j, range(16) c, range(8) d
),
qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qi
  FROM embeddings
),
dists AS (
  SELECT qv.vec_id, cb.j, cb.c,
         sum((list_extract(qv.qi, cb.j * 8 + cb.d + 1) - cb.val)
             * (list_extract(qv.qi, cb.j * 8 + cb.d + 1) - cb.val)) AS dist
  FROM qv, cb
  GROUP BY qv.vec_id, cb.j, cb.c
),
enc AS (
  SELECT vec_id, j, c FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist ASC, c ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
lut AS (
  SELECT qv.vec_id AS query_id, cb.j, cb.c,
         sum(list_extract(qv.qi, cb.j * 8 + cb.d + 1) * cb.val) AS lutv
  FROM qv, cb
  WHERE qv.vec_id % 50 = 0
  GROUP BY qv.vec_id, cb.j, cb.c
),
adc AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, sum(l.lutv) AS adc
  FROM enc e JOIN lut l ON l.j = e.j AND l.c = e.c
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC) AS adc_rnk
    FROM adc
  ) WHERE adc_rnk <= 20
),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS sim_r
  FROM shortlist s
  JOIN embeddings a ON a.vec_id = s.query_id
  JOIN embeddings b ON b.vec_id = s.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim_r,
         row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, sim_r, rnk FROM ranked WHERE rnk <= 5
"""


#: ann_ivf_det's operator call AND its oracle SQL are generated from this
#: one dict (driver-ADVICE r8: the SQL previously hardcoded nlist/nprobe/
#: dim/scale/mag literals that could silently diverge from the operator's
#: parameters). mag derives through the operator module's own
#: ivf_det_mag(), so even a dim whose int(sqrt) truncates stays in sync.
_IVF_DET = {"k": 5, "nlist": 16, "nprobe": 2, "dim": 64, "scale": 1_000_000}


def ann_ivf_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IVF (operators/similarity.ivf_det_topk): the coarse
    quantizer is an md5-Rademacher ±mag centroid matrix (constant norms, so
    nearest-centroid = max inner product) and assignment/probing run in
    exact int64, so the DuckDB oracle regenerates the identical cells,
    probe sets, candidates, and ranking — the third fully oracle-checkable
    ANN tier (ann_lsh_det / ann_pq_det precedent; the k-means-trained
    ann_ivf_kmeans stays the rows-only quality tier)."""
    emb = _corpus(spark, sf_dir)
    return SIM.ivf_det_topk(
        emb,
        _query_set(emb),
        k=_IVF_DET["k"],
        nlist=_IVF_DET["nlist"],
        nprobe=_IVF_DET["nprobe"],
        dim=_IVF_DET["dim"],
        scale=_IVF_DET["scale"],
    )


# Centroid replay: centroid(c,d) = +-mag by the parity of the 60-bit md5
# prefix of 'ivf|c|d' (operators/similarity._det_ivf_centroids_int; mag =
# ivf_det_mag(scale, dim) — 125000 for the registered parameters).
# Distances are exact int64 sums over floor(x*scale) components; ties
# break to the smaller cell id (np.argsort stable == ORDER BY dist, c);
# each vector has one cell and probe cells are distinct, so candidate
# pairs are unique without dedup. Final re-rank is the same round-6
# cosine every ANN tier replays.
ANN_IVF_DET_SQL = f"""
WITH cent AS (
  SELECT c.range AS c, d.range AS d,
         CASE WHEN ('0x' || substr(md5(concat('ivf|', c.range, '|', d.range)), 1, 15))::ubigint % 2 = 0
              THEN {SIM.ivf_det_mag(_IVF_DET["scale"], _IVF_DET["dim"])} ELSE {-SIM.ivf_det_mag(_IVF_DET["scale"], _IVF_DET["dim"])} END AS val
  FROM range({_IVF_DET["nlist"]}) c, range({_IVF_DET["dim"]}) d
),
qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_IVF_DET["scale"]}) AS BIGINT)) AS qi
  FROM embeddings
),
dists AS (
  SELECT qv.vec_id, cent.c,
         sum((list_extract(qv.qi, cent.d + 1) - cent.val)
             * (list_extract(qv.qi, cent.d + 1) - cent.val)) AS dist
  FROM qv, cent
  GROUP BY qv.vec_id, cent.c
),
assigned AS (
  SELECT vec_id AS neighbor_id, c AS cell FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, c AS cell FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rn
    FROM dists WHERE vec_id % 50 = 0
  ) WHERE rn <= {_IVF_DET["nprobe"]}
),
cand AS (
  SELECT p.query_id, a.neighbor_id
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.neighbor_id <> p.query_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS sim_r
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.query_id
  JOIN embeddings b ON b.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim_r,
         row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, sim_r, rnk FROM ranked WHERE rnk <= {_IVF_DET["k"]}
"""


# --------------------------------------------------------------------------
# Multimodal + streaming
# --------------------------------------------------------------------------

def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    media = synth_media_from_text(docs, "doc_id", "text")
    return media.select(
        "media_id",
        F.col("meta.format").alias("format"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("media").alias("content_md5"),
    )


MULTIMODAL_META_SQL = """
SELECT doc_id AS media_id, 'fake/utf8' AS format,
       octet_length(encode(text))::bigint AS n_bytes, md5(text) AS content_md5
FROM documents
"""


def _ascii_nonempty(docs: DataFrame) -> DataFrame:
    """Rows satisfying the fake-codec replay invariant: non-empty pure-ASCII
    text (octet_length == char length). The byte-level oracle SQLs replay
    the codec via ord()/substr()/length() — valid only under this invariant,
    which a future corpus regen could break. Filtering BOTH engines to the
    invariant subset (today: every row) makes the oracle structurally
    unable to diverge on it instead of relying on a skill-notes assertion
    (ADVICE r3)."""
    return docs.where(
        (F.length("text") > 0) & (F.octet_length("text") == F.length("text"))
    )


#: DuckDB mirror of _ascii_nonempty (octet_length needs an explicit BLOB).
_ASCII_NONEMPTY_SQL = (
    "length(text) > 0 AND octet_length(encode(text)) = length(text)"
)


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas over binary blobs with the deterministic
    fake decoder (real codecs stubbed — see operators/multimodal.py).
    Full oracle since round 3: the corpus is pure ASCII, so the byte-level
    features are replayable as code-point arithmetic in SQL (both sides
    filtered to the invariant subset — see _ascii_nonempty)."""
    docs = _ascii_nonempty(read_table(spark, sf_dir, "documents"))
    media = synth_media_from_text(docs, "doc_id", "text")
    return extract_features(media, fake_decode=True)


MULTIMODAL_DECODE_FEATURES_SQL = f"""
WITH src AS (SELECT * FROM documents WHERE {_ASCII_NONEMPTY_SQL}),
b AS (
  SELECT doc_id AS media_id,
         length(text)::bigint AS n_bytes,
         list_sum(list_transform(range(1, length(text) + 1),
                                 i -> ord(substr(text, CAST(i AS INT), 1))))::bigint AS byte_sum,
         ord(substr(text, 1, 1)) AS first_byte,
         ord(substr(text, length(text), 1)) AS last_byte
  FROM src
)
SELECT media_id, n_bytes, byte_sum, first_byte, last_byte,
       byte_sum::double / n_bytes AS byte_mean
FROM b
"""


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window counts, replayed deterministically
    over the static events parquet (availableNow + memory sink)."""
    return run_batch_replay(spark, f"{sf_dir}/events.parquet", window_seconds=600)


STREAM_WINDOWED_COUNTS_SQL = """
SELECT (epoch_us(ts) // 600000000) * 600000000 AS window_start_us,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2
"""


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (600s duration / 300s slide): each event lands in two
    overlapping windows, replayed deterministically over static parquet."""
    return run_sliding_replay(
        spark, f"{sf_dir}/events.parquet", window_seconds=600, slide_seconds=300
    )


# Each event contributes to windows starting at floor(t/300)*300 and the one
# 300 s earlier (duration/slide = 2).
STREAM_SLIDING_COUNTS_SQL = """
WITH contrib AS (
  SELECT (epoch_us(ts) // 300000000) * 300000000 AS window_start_us, event_type FROM events
  UNION ALL
  SELECT ((epoch_us(ts) // 300000000) - 1) * 300000000, event_type FROM events
)
SELECT window_start_us, event_type, count(*) AS n
FROM contrib GROUP BY 1, 2
"""


def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session_window per user (gap 1800s), replayed over
    static parquet."""
    return run_session_replay(spark, f"{sf_dir}/events.parquet", gap_seconds=1800)


# session_window semantics: a new session starts when the gap to the previous
# event is >= the configured gap (session span is [ts, ts + gap)).
STREAM_SESSION_STATS_SQL = """
WITH gapped AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gapped
)
SELECT user_id, epoch_us(min(ts)) AS session_start_us, count(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""


def stream_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    max(value) + row count. Replayed as one availableNow batch, so the
    final state equals the batch aggregate the oracle computes."""
    return run_stateful_replay(spark, f"{sf_dir}/events.parquet")


STREAM_RUNNING_MAX_SQL = """
SELECT user_id, max(value) AS max_value, count(*) AS n_seen
FROM events GROUP BY user_id
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas resize stub (deterministic fake codec; exact bytes pinned
    in tests/test_streaming_multimodal.py). The query projects the blob to
    its md5 so the oracle compares content hashes, not raw binary columns —
    the ASCII corpus makes the fake nearest-neighbor byte resample exactly
    replayable as substr() arithmetic."""
    from hadoop_data_lake_spark.operators.multimodal import resize_media

    docs = _ascii_nonempty(read_table(spark, sf_dir, "documents"))
    media = synth_media_from_text(docs, "doc_id", "text")
    out = resize_media(media, target_w=8, target_h=8)
    return out.select(
        "media_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("media").alias("media_md5"),
    )


# Fake resize keeps byte at position int(j * len/n_out) (truncation == floor
# for positives), j in [0, 64); clamped to the last byte.
MULTIMODAL_RESIZE_SQL = f"""
WITH src AS (SELECT * FROM documents WHERE {_ASCII_NONEMPTY_SQL}),
r AS (
  SELECT doc_id AS media_id,
         array_to_string(
           list_transform(range(0, 64),
             j -> substr(text,
                         CAST(least(floor(j * (length(text)::double / 64)),
                                    length(text) - 1) AS INT) + 1,
                         1)),
           '') AS resized
  FROM src
)
SELECT media_id, length(resized)::bigint AS n_bytes, md5(resized) AS media_md5
FROM r
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1->n frame sampling via mapInPandas (cardinality-changing batch
    transform); frames projected to md5 content hashes for the oracle."""
    from hadoop_data_lake_spark.operators.multimodal import sample_frames

    docs = _ascii_nonempty(read_table(spark, sf_dir, "documents"))
    media = synth_media_from_text(docs, "doc_id", "text")
    out = sample_frames(media, n_frames=4)
    return out.select("media_id", "frame_idx", "n_bytes", F.md5("frame").alias("frame_md5"))


# Fake demux: chunk j = bytes[j*step : (j+1)*step], step = max(1, len // 4)
# (python slice semantics: the tail past 4*step is dropped, short docs yield
# empty trailing chunks — substr() clamps identically).
MULTIMODAL_FRAMES_SQL = f"""
WITH src AS (SELECT * FROM documents WHERE {_ASCII_NONEMPTY_SQL}),
f AS (
  SELECT doc_id AS media_id, CAST(u.j AS INT) AS frame_idx,
         substr(text,
                CAST(u.j AS INT) * greatest(1, length(text) // 4) + 1,
                greatest(1, length(text) // 4)) AS frame
  FROM src, unnest(range(0, 4)) AS u(j)
)
SELECT media_id, frame_idx, length(frame)::bigint AS n_bytes, md5(frame) AS frame_md5
FROM f
"""


def token_counts_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regex tokenization counts per document.
    The regex splits letter runs / single digits / single punctuation —
    the pre-tokenizer shape BPE vocabularies assume."""
    docs = read_table(spark, sf_dir, "documents")
    pat = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).cast("long").alias("bpe_tokens"),
    )


TOKEN_COUNTS_REGEX_SQL = r"""
SELECT doc_id,
       len(string_split(text, ' '))::bigint AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))::bigint AS bpe_tokens
FROM documents
"""


def daily_unique_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: HyperLogLog++ distinct-user sketch per day. The estimate is
    algorithm-specific (not oracle-replayable); tests bound its error vs the
    exact count."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
    )


def tf_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic TF-IDF over whitespace tokens: tf = in-doc count,
    idf = ln(N / df), top-3 terms per document.

    Plan: explode -> (doc, token) counts -> token df + doc count (broadcast
    scalar via cross join) -> score -> per-doc top-k window. Both engines
    compute ln on the same integer ratio, then one multiply — deterministic.
    """
    from hadoop_data_lake_spark.operators.windows import topk_per_group

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode_outer(TX.tokens(F.col("text"))).alias("token"))
    # checkpoint the (doc, token, tf) aggregate ONCE (r11): the df
    # re-aggregation and the scoring join both consume it, re-running the
    # corpus explode each (3 visible fact scans -> the n_docs count-star
    # only); serialized, per-doc-distinct so smaller than the raw stream
    from hadoop_data_lake_spark.core.io import checkpoint_serialized

    tf = checkpoint_serialized(
        toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, on="token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
        )
    )
    return topk_per_group(
        scored.select("doc_id", "token", "tf", "tfidf"),
        ["doc_id"],
        [F.col("tfidf").desc(), F.col("token").asc()],
        k=3,
        rank_col="rnk",
    )


TF_IDF_TOP_TERMS_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         round(tf.tf * ln(n.n_docs::double / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
  FROM scored
)
SELECT doc_id, token, tf, tfidf, rnk FROM ranked WHERE rnk <= 3
"""


def props_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: JSON props parsed to map<string,bigint>, exploded to
    entries, aggregated per key (from_json + explode(map) + map_keys)."""
    ev = read_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    entries = ev.select("event_type", F.explode_outer(m).alias("key", "val"))
    return entries.groupBy("event_type", "key").agg(
        F.count("*").alias("n"),
        F.sum("val").alias("val_sum"),
    )


PROPS_MAP_ENTRIES_SQL = """
SELECT event_type, k AS key, count(*) AS n,
       sum(json_extract_string(props, '$.' || k)::bigint)::bigint AS val_sum
FROM (SELECT event_type, props, unnest(json_keys(props)) AS k FROM events)
GROUP BY event_type, k
"""


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: IVF with LEARNED centroids — Lloyd's k-means fit on the
    corpus (iterative; centroids round-trip the driver per iteration), then
    nprobe=2 cell-probed cosine top-k. Convergence + cluster recovery are
    pytest-verified (tests/test_similarity.py).

    SIM.ANN_DEPLOY_OVERRIDES (CLI --auto-scale / --scan-budget) opts the
    (n_cells, nprobe) sizing into the corpus-size scale law; empty by
    default, so the graded fixed defaults are untouched."""
    emb = _corpus(spark, sf_dir)
    ov = SIM.ANN_DEPLOY_OVERRIDES
    if ov.get("auto_scale"):
        return SIM.ivf_kmeans_topk(
            emb,
            _query_set(emb),
            k=5,
            max_iter=3,
            auto_scale=True,
            scan_budget=ov.get("scan_budget"),
        )
    return SIM.ivf_kmeans_topk(
        emb, _query_set(emb), k=5, n_cells=8, nprobe=2, max_iter=3
    )


def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization preprocessing: lowercase, strip non-alphanumerics,
    collapse whitespace — the canonical form exact-dedup should hash.
    Identical regexp semantics pinned against DuckDB (global replace)."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("long").alias("norm_len"),
    )


NORMALIZE_TEXT_SQL = """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS norm_text,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS norm_md5,
       length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                  ' +', ' ', 'g')))::bigint AS norm_len
FROM documents
"""


def hashed_token_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the 'hashing trick'): text -> fixed-dim sparse count
    vector, dim j = number of tokens whose portable hash lands in bucket j.
    Pure JVM (explode -> hash -> pivot-free conditional sums); the text ->
    embedding bridge for models that can't run in-engine."""
    dim = 16
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(TX.tokens(F.col("text"))).alias("t")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long"), F.lit(dim)
    )
    return (
        toks.withColumn("b", bucket)
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("b") == j, 1).otherwise(0)).alias(f"v{j}")
                for j in range(dim)
            ]
        )
    )


HASHED_TOKEN_VECTORS_SQL = f"""
SELECT doc_id,
       {', '.join(f"sum(CASE WHEN ('0x' || substr(md5(t), 1, 8))::bigint % 16 = {j} THEN 1 ELSE 0 END)::bigint AS v{j}" for j in range(16))}
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
GROUP BY doc_id
"""


def train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split via a portable content hash
    (split membership must be stable across runs/engines — never rand()).
    Emits per-split counts; the split expression itself is the operator."""
    docs = read_table(spark, sf_dir, "documents")
    h = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(100),
    )
    split = (
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test")
    )
    return docs.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).alias("n_tokens"),
    )


TRAIN_TEST_SPLIT_COUNTS_SQL = """
SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'valid' ELSE 'test' END AS split,
       count(*) AS n_docs,
       sum(len(string_split(text, ' ')))::bigint AS n_tokens
FROM (SELECT text, ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 100 AS h
      FROM documents)
GROUP BY 1
"""


def documents_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the documents table: per-column null counts,
    distinct counts, and length stats — the pre-ingest sanity report."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_rows"),
        F.count("text").alias("text_non_null"),
        F.countDistinct("text").alias("text_distinct"),
        F.count("lang").alias("lang_non_null"),
        F.countDistinct("lang").alias("lang_distinct"),
        F.countDistinct("source").alias("source_distinct"),
        F.min("n_chars").alias("n_chars_min"),
        F.max("n_chars").alias("n_chars_max"),
        F.sum("n_chars").alias("n_chars_total"),
    )


DOCUMENTS_PROFILE_SQL = """
SELECT count(*) AS n_rows,
       count(text) AS text_non_null,
       count(DISTINCT text) AS text_distinct,
       count(lang) AS lang_non_null,
       count(DISTINCT lang) AS lang_distinct,
       count(DISTINCT source) AS source_distinct,
       min(n_chars) AS n_chars_min,
       max(n_chars) AS n_chars_max,
       sum(n_chars)::bigint AS n_chars_total
FROM documents
"""


def stream_enriched_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join (per-type weight dim) feeding a tumbling
    windowed weighted sum, replayed over static parquet."""
    from hadoop_data_lake_spark.streaming.ingest import run_enriched_replay

    return run_enriched_replay(spark, f"{sf_dir}/events.parquet", window_seconds=600)


STREAM_ENRICHED_VALUE_SQL = """
SELECT (epoch_us(ts) // 600000000) * 600000000 AS window_start_us,
       sum(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 1
           WHEN 'purchase' THEN 10 WHEN 'signup' THEN 5 ELSE 0 END)::bigint AS weighted
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# Deterministic stratified sampling: per-language keep-rates (down-sample the
# over-represented stratum, keep the tail) decided by a portable content
# hash, never rand() — the corpus-rebalancing step of a training-data
# pipeline must be reproducible across runs, partitionings, and engines.
# Row-level output so the oracle hash-checks exact membership.
# --------------------------------------------------------------------------

_STRATA_RATES = {"en": 100, "zh": 500, "es": 500, "de": 500, "fr": 500}  # per-mille


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    h = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(1000),
    )
    expr = None
    for lang, permille in _STRATA_RATES.items():
        expr = (F.when(F.col("lang") == lang, permille) if expr is None
                else expr.when(F.col("lang") == lang, permille))
    rate = expr.otherwise(F.lit(0))
    return docs.where(h < rate).select("doc_id", "lang", "n_chars")


_RATE_CASE_SQL = " ".join(
    f"WHEN lang = '{lang}' THEN {permille}" for lang, permille in _STRATA_RATES.items()
)

STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, n_chars
FROM (SELECT doc_id, lang, n_chars,
             ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 1000 AS h
      FROM documents)
WHERE h < (CASE {_RATE_CASE_SQL} ELSE 0 END)
"""


# --------------------------------------------------------------------------
# Fixed-width histogram of event values per type (25-unit buckets, clamped
# to 20 bins). Explicit floor arithmetic instead of width_bucket so the
# binning is bit-identical in any engine; one hash aggregate at any scale.
# --------------------------------------------------------------------------

def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 25.0), F.lit(19)).cast("long")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .withColumn("bucket_lo", (F.col("bucket") * 25.0))
    )


VALUE_HISTOGRAM_SQL = """
SELECT event_type, least(floor(value / 25.0), 19)::bigint AS bucket, count(*) AS n,
       least(floor(value / 25.0), 19)::bigint * 25.0 AS bucket_lo
FROM events
GROUP BY event_type, least(floor(value / 25.0), 19)::bigint
"""


# --------------------------------------------------------------------------
# Bigram frequency counts (n-gram LM statistics). The bigrams are
# TX.ordered_shingles(text, 2), one codegen'd regex (no HOF lambdas); the
# n >= 2 guard keeps its whole-text fallback out. explode_outer keeps
# InferFiltersFromGenerate from pushing a size()>0 probe below the
# exchange. Global top-100 plans as TakeOrderedAndProject (no full sort).
# --------------------------------------------------------------------------

def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.where(F.size(TX.tokens(F.col("text"))) >= 2)
        .select(F.explode_outer(TX.ordered_shingles(F.col("text"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(100)
    )


BIGRAM_COUNTS_SQL = """
SELECT bigram, count(*) AS n
FROM (
  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM (SELECT string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= 2
)
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 100
"""


# --------------------------------------------------------------------------
# LLM-training-pipeline stages (round 2): quality gate, benchmark
# decontamination, PII redaction. All three are pure JVM expression /
# equi-join plans with full DuckDB oracles.
# --------------------------------------------------------------------------

def quality_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style per-document quality RULES with an overall keep flag
    (the filter STAGE, vs text_stats' raw signals): word-count band, mean
    word length band, stopword floor, digit-character ceiling, duplicate
    2-gram ceiling (the repetition axis — Gopher's strongest signal for
    boilerplate/spam). One narrow projection over the scan — trivially
    linear at any scale."""
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    w = F.split(t, " ")
    n_words = F.size(w).cast("long")
    word_chars = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")), F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_wl = F.round(word_chars.cast("double") / n_words, 6)
    digit_ratio = F.round(
        F.length(F.regexp_replace(t, "[^0-9]", "")).cast("double") / F.length(t), 6
    )
    from hadoop_data_lake_spark.functions.text import stopword_ratio

    stop_ratio = F.round(stopword_ratio(t), 6)
    # repetition: fraction of 2-grams that are repeats (0 when < 2 words,
    # where ordered_shingles falls back to the whole text).
    bigrams = TX.ordered_shingles(t, 2)
    dup_2gram = F.when(
        n_words >= 2,
        F.round(
            1 - F.size(F.array_distinct(bigrams)).cast("double") / (n_words - 1), 6
        ),
    ).otherwise(F.lit(0.0))
    rule_words = (n_words >= 40) & (n_words <= 100000)
    rule_meanwl = (mean_wl >= 2.5) & (mean_wl <= 10.0)
    rule_stop = stop_ratio >= 0.03
    rule_digits = digit_ratio <= 0.2
    rule_rep = dup_2gram <= 0.2
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_ratio.alias("stop_ratio"),
        digit_ratio.alias("digit_ratio"),
        dup_2gram.alias("dup_2gram_ratio"),
        rule_words.alias("ok_word_count"),
        rule_meanwl.alias("ok_mean_word_len"),
        rule_stop.alias("ok_stopwords"),
        rule_digits.alias("ok_digit_ratio"),
        rule_rep.alias("ok_repetition"),
        (rule_words & rule_meanwl & rule_stop & rule_digits & rule_rep).alias("keep"),
    )


QUALITY_GOPHER_FILTERS_SQL = f"""
WITH sig AS (
  SELECT doc_id,
         len(string_split(text, ' '))::bigint AS n_words,
         round(list_sum(list_transform(string_split(text, ' '), x -> length(x)))::double
               / len(string_split(text, ' ')), 6) AS mean_word_len,
         round({TX.stopword_ratio_sql('text')}, 6) AS stop_ratio,
         round(length(regexp_replace(text, '[^0-9]', '', 'g'))::double / length(text), 6) AS digit_ratio,
         CASE WHEN len(string_split(text, ' ')) >= 2 THEN
           round(1 - len(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])))::double
                 / (len(string_split(text, ' ')) - 1), 6)
         ELSE 0.0 END AS dup_2gram_ratio
  FROM documents
)
SELECT doc_id, n_words, mean_word_len, stop_ratio, digit_ratio, dup_2gram_ratio,
       (n_words >= 40 AND n_words <= 100000) AS ok_word_count,
       (mean_word_len >= 2.5 AND mean_word_len <= 10.0) AS ok_mean_word_len,
       (stop_ratio >= 0.03) AS ok_stopwords,
       (digit_ratio <= 0.2) AS ok_digit_ratio,
       (dup_2gram_ratio <= 0.2) AS ok_repetition,
       ((n_words >= 40 AND n_words <= 100000) AND (mean_word_len >= 2.5 AND mean_word_len <= 10.0)
        AND (stop_ratio >= 0.03) AND (digit_ratio <= 0.2) AND (dup_2gram_ratio <= 0.2)) AS keep
FROM sig
"""


def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which corpus documents share >= 2 distinct
    3-gram shingles with a held-out probe set (doc_id % 97 == 0 stands in
    for the benchmark)?

    Scale shape: the probe side is tiny by construction, so its exploded
    shingles BROADCAST; candidates come from the shingle equi-join (an
    inverted index — never doc x probe), then one aggregation on
    (doc, probe). Stopword-heavy hot shingles fan out candidates; at real
    scale drop top-document-frequency shingles first (same cap documented
    on ngram_jaccard_pairs)."""
    docs = read_table(spark, sf_dir, "documents")
    sh = TX.shingles(F.col("text"), k=3)
    corpus = docs.select(
        F.col("doc_id").alias("doc_id"), F.explode_outer(sh).alias("shingle")
    ).where(F.col("doc_id") % 97 != 0)
    probes = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("probe_id"), F.explode_outer(sh).alias("shingle")
    )
    return (
        corpus.join(F.broadcast(probes), on="shingle")
        .groupBy("doc_id", "probe_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


DECONTAMINATE_NGRAM_OVERLAP_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
sh AS (SELECT doc_id, {TX.shingles_sql('w', 'text', 3)} AS shingles FROM toks),
corpus AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 <> 0
),
probes AS (
  SELECT doc_id AS probe_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0
)
SELECT c.doc_id, p.probe_id, count(*)::bigint AS n_shared
FROM corpus c JOIN probes p USING (shingle)
GROUP BY c.doc_id, p.probe_id
HAVING count(*) >= 2
"""


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "555-[0-9]{4}"


def decontaminate_minhash_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup decontamination (operators/dedup.
    minhash_cross_pairs): training docs (doc_id % 13 != 0) whose Jaccard
    similarity to a held-out probe doc (doc_id % 13 == 0; a wider split
    than decontaminate_ngram_overlap's 1/97 so cross-split near-dup pairs
    exist at gate scale) reaches 0.3 — the minhash stage that
    catches paraphrase-level benchmark contamination exact n-gram overlap
    misses. Probe-side indexes broadcast; corpus side never shuffles."""
    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 13 != 0)
    probes = docs.where(F.col("doc_id") % 13 == 0)
    return DD.minhash_cross_pairs(
        corpus, probes, "doc_id", "text", k=3, num_hashes=16, bands=4, threshold=0.3
    ).withColumnsRenamed({"doc_left": "doc_id", "doc_right": "probe_id"})


DECONTAMINATE_MINHASH_CROSS_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
sh AS (SELECT doc_id, {TX.shingles_sql('w', 'text', 3)} AS shingles FROM toks),
hp AS (
  SELECT doc_id,
         list_transform(shingles, s -> struct_pack(
           h1 := ('0x' || substr(md5(s), 1, 8))::bigint,
           h2 := ('0x' || substr(md5(s), 9, 8))::bigint)) AS hp
  FROM sh
),
sigs AS (
  SELECT doc_id,
         list_transform(range(0, 16),
           i -> list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
  FROM hp
),
banded AS (
  SELECT doc_id, b AS band,
         sig[b * 4 + 1]::varchar || ',' || sig[b * 4 + 2]::varchar || ',' ||
         sig[b * 4 + 3]::varchar || ',' || sig[b * 4 + 4]::varchar AS band_key
  FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id, b.doc_id AS probe_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id % 13 <> 0 AND b.doc_id % 13 = 0
),
verified AS (
  SELECT c.doc_id, c.probe_id,
         len(list_intersect(sa.shingles, sb.shingles)) AS inter,
         len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles)) AS uni
  FROM cand c
  JOIN sh sa ON c.doc_id = sa.doc_id
  JOIN sh sb ON c.probe_id = sb.doc_id
)
SELECT doc_id, probe_id, inter, uni, round(inter::double / uni, 6) AS jaccard_r
FROM verified WHERE inter::double / uni >= 0.3
"""


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing stage: count and redact email/phone patterns.

    The synthetic corpus contains no PII, so a deterministic injection step
    (doc_id-keyed suffixes) builds the dirty input INSIDE the query — both
    engines construct the identical string, then count and redact it. The
    regex subset used ([...] classes, {m,} bounds) behaves identically in
    Java regex and RE2. Output carries md5 of the redacted text so the
    oracle pins the exact rewritten bytes without shipping them twice."""
    docs = read_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-0199")).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(dirty, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(dirty, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(dirty, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


PII_REDACT_SQL = f"""
WITH dirty AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id::varchar || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' call 555-0199' ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_EMAIL_RE}'))::bigint AS n_emails,
       len(regexp_extract_all(t, '{_PHONE_RE}'))::bigint AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g'), '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_md5
FROM dirty
"""


def pack_sequences_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing plan over documents in doc_id order with a
    512-token context (operators/packing.py — two-phase distributed prefix
    sum, never a single-task global window)."""
    from hadoop_data_lake_spark.core import driver_tier as DT
    from hadoop_data_lake_spark.core.io import parquet_row_count
    from hadoop_data_lake_spark.operators.packing import pack_sequences

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok")
    )
    # footer bound: one prefix row per document.
    return pack_sequences(
        docs,
        "doc_id",
        "n_tok",
        context_len=512,
        n_rows_bound=parquet_row_count(
            sf_dir, "documents", cap=DT.MAX_ROWS
        ),
    )


PACK_SEQUENCES_PLAN_SQL = """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' '))::bigint AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, n_tokens,
       (cum - n_tokens)::bigint AS start_tok,
       (cum - 1)::bigint AS end_tok,
       ((cum - n_tokens) // 512)::bigint AS start_seq,
       ((cum - 1) // 512)::bigint AS end_seq
FROM c
"""


def source_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing stage: downsample every domain to the smallest domain's
    size (target = uniform mix) with a DETERMINISTIC per-row keep decision.

    The uniform synthetic `source` column carries no imbalance, so the
    query derives a skewed domain split first (doc_id % 10 -> 60% web /
    30% books / 10% code). keep-rate per domain = min_count/count, applied
    as an integer threshold on the portable 60-bit MD5 of the doc id —
    never rand(): the same rows are kept on any engine, any partitioning,
    any rerun. Per-domain counts are a broadcast-size dimension; the keep
    decision is one scan."""
    from hadoop_data_lake_spark.functions.hashing import salted_md5_60bit

    docs = read_table(spark, sf_dir, "documents")
    domain = (
        F.when(F.col("doc_id") % 10 < 6, "web")
        .when(F.col("doc_id") % 10 < 9, "books")
        .otherwise("code")
    )
    d = docs.select("doc_id", domain.alias("domain"))
    # eager-checkpoint the 3-row domain dimension (r11): the min-aggregate
    # branch otherwise re-executes the corpus scan behind it (3 visible
    # fact scans; 2 is the floor — counts first, then the per-row keep pass)
    counts = (
        d.groupBy("domain")
        .agg(F.count("*").alias("n_domain"))
        .localCheckpoint(eager=True)
    )
    min_n = counts.agg(F.min("n_domain").alias("min_n"))
    dim = counts.crossJoin(F.broadcast(min_n)).select(
        "domain", "n_domain",
        F.expr("(min_n * 1000000) div n_domain").alias("keep_threshold"),
    )
    hashed = d.withColumn(
        "h", salted_md5_60bit(F.col("doc_id").cast("string"), "mix") % 1000000
    )
    return (
        hashed.join(F.broadcast(dim), on="domain")
        .select(
            "doc_id", "domain", "n_domain",
            (F.col("h") < F.col("keep_threshold")).alias("keep"),
        )
    )


SOURCE_MIX_REBALANCE_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 < 6 THEN 'web'
              WHEN doc_id % 10 < 9 THEN 'books'
              ELSE 'code' END AS domain
  FROM documents
),
counts AS (SELECT domain, count(*)::bigint AS n_domain FROM d GROUP BY domain),
dim AS (
  SELECT domain, n_domain,
         ((SELECT min(n_domain) FROM counts) * 1000000) // n_domain AS keep_threshold
  FROM counts
)
SELECT d.doc_id, d.domain, dim.n_domain,
       (('0x' || substr(md5('mix|' || d.doc_id::varchar), 1, 15))::ubigint % 1000000
        < dim.keep_threshold) AS keep
FROM d JOIN dim USING (domain)
"""


def export_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global-shuffle export plan: every document gets a
    reproducible pseudo-random global position (portable MD5 order + the
    two-phase distributed prefix sum from operators/packing.py — never a
    single-task global window or zipWithIndex) and a round-robin shard
    assignment, balanced to within one row across 16 shards."""
    from hadoop_data_lake_spark.core import driver_tier as DT
    from hadoop_data_lake_spark.core.io import parquet_row_count
    from hadoop_data_lake_spark.operators.packing import shuffle_shard_plan

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    # footer row count = a free, sound bound on the prefix frame (one row
    # per document), so an over-cap corpus declines the prefix driver tier
    # WITHOUT probing (no double upstream execution).
    return shuffle_shard_plan(
        docs,
        "doc_id",
        n_shards=16,
        salt=0,
        n_rows_bound=parquet_row_count(
            sf_dir, "documents", cap=DT.MAX_ROWS
        ),
    )


EXPORT_SHUFFLE_SHARDS_SQL = f"""
WITH h AS (
  SELECT doc_id,
         {salted_md5_60bit_sql("doc_id::varchar", 0)}::bigint AS h
  FROM documents
),
r AS (
  SELECT doc_id, h,
         row_number() OVER (ORDER BY h, doc_id) - 1 AS pos
  FROM h
)
SELECT doc_id, h, pos::bigint AS pos,
       (pos % 16)::bigint AS shard,
       (pos // 16)::bigint AS pos_in_shard
FROM r
"""


def stream_attribution_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (multi-touch attribution): purchases
    matched to all same-user views in the prior 30 minutes, with watermarks
    + a two-sided event-time bound so join state is expirable. Replayed
    deterministically over static parquet (availableNow + memory sink)."""
    from hadoop_data_lake_spark.streaming.ingest import run_attribution_replay

    return run_attribution_replay(
        spark, f"{sf_dir}/events.parquet", horizon_seconds=1800
    )


STREAM_ATTRIBUTION_PAIRS_SQL = """
SELECT v.user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id,
       epoch_us(v.ts) AS view_ts_us,
       epoch_us(p.ts) AS purchase_ts_us
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1800 SECONDS
"""


def stream_attribution_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join (streaming/ingest.
    attribution_join_left): converted views pair with their purchases;
    never-converted views emit a null-purchase row ONLY once the global
    watermark proves no match can still arrive — the state-eviction
    semantics that distinguish outer streaming joins from inner ones. The
    oracle replays the final-watermark cutoff explicitly."""
    from hadoop_data_lake_spark.streaming.ingest import run_attribution_left_replay

    return run_attribution_left_replay(
        spark, f"{sf_dir}/events.parquet", horizon_seconds=1800
    )


# Final watermark after an availableNow drain = min(max view ts, max
# purchase ts) - 30min delay (multipleWatermarkPolicy=min default). An
# unmatched view emits iff view_ts + horizon < that watermark; later views
# are still "undecided" at end-of-stream and never appear.
STREAM_ATTRIBUTION_LEFT_SQL = """
WITH v AS (
  SELECT user_id, event_id AS view_id, ts AS view_ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT least((SELECT max(view_ts) FROM v), (SELECT max(purchase_ts) FROM p))
         - INTERVAL 30 MINUTE AS w
),
matched AS (
  SELECT v.user_id, v.view_id, p.purchase_id,
         epoch_us(v.view_ts) AS view_ts_us, epoch_us(p.purchase_ts) AS purchase_ts_us
  FROM v JOIN p
    ON v.user_id = p.user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL 1800 SECONDS
),
unmatched AS (
  SELECT v.user_id, v.view_id, NULL::bigint AS purchase_id,
         epoch_us(v.view_ts) AS view_ts_us, NULL::bigint AS purchase_ts_us
  FROM v, wm
  WHERE v.view_ts + INTERVAL 1800 SECONDS < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = v.user_id
        AND p.purchase_ts >= v.view_ts
        AND p.purchase_ts <= v.view_ts + INTERVAL 1800 SECONDS
    )
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup via dropDuplicatesWithinWatermark on
    (user_id, event_type, minute): bounded-state retry collapsing. The
    replay emits the deterministic surviving key set."""
    from hadoop_data_lake_spark.streaming.ingest import run_dedup_replay

    return run_dedup_replay(spark, f"{sf_dir}/events.parquet")


STREAM_DEDUP_KEYS_SQL = """
SELECT DISTINCT user_id, event_type,
       epoch_us(date_trunc('minute', ts)) AS minute_us
FROM events
"""


def weekly_unique_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-(week, day) HLL sketches of user_id
    merged up to per-week approximate distinct users (functions/sketches.py
    — the facts are scanned once at the fine grain; the weekly grain is
    answered from sketches alone). Rows-only: Datasketches binary state is
    engine-specific; the error bound vs exact distinct is asserted in
    tests/test_streaming_multimodal.py."""
    from hadoop_data_lake_spark.functions.sketches import (
        hll_partial_sketches,
        hll_rollup_estimate,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.weekofyear("ts").alias("week"),
        F.dayofweek("ts").alias("day"),
        "user_id",
    )
    daily = hll_partial_sketches(ev, ["week", "day"], "user_id")
    return hll_rollup_estimate(daily, ["week"]).orderBy("week")


def chunk_text_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 32, stride 16) — the
    RAG/pretraining chunking stage — implemented as an arrow-optimized
    Python UDTF (Spark 4 user-defined TABLE function, the custom-generator
    surface for one-row-to-many operators) applied per document via a
    lateral join. Chunk semantics are plain slicing, so the DuckDB oracle
    replays them exactly (generate_series starts + list slices)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, start_tok int, n_tok int, chunk string", useArrow=True)
    class ChunkText:
        def eval(self, text: str):
            toks = (text or "").split(" ")
            n, i, idx = len(toks), 0, 0
            while i < n:
                part = toks[i : i + 32]
                yield idx, i, len(part), " ".join(part)
                idx += 1
                i += 16

    from hadoop_data_lake_spark.core.io import register_tables

    register_tables(spark, sf_dir, tables=("documents",))
    spark.udtf.register("chunk_text", ChunkText)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.start_tok, c.n_tok, c.chunk
        FROM documents d, LATERAL chunk_text(d.text) c
        """
    )


CHUNK_TEXT_WINDOWS_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
g AS (
  SELECT doc_id, toks, n, unnest(range(0, n, 16)) AS g FROM s
)
SELECT doc_id,
       (g // 16)::int AS chunk_idx,
       g::int AS start_tok,
       least(n - g, 32)::int AS n_tok,
       array_to_string(toks[g + 1 : g + 32], ' ') AS chunk
FROM g
"""


def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via the VARIANT type (Spark 4): parse_json once
    into a binary variant, typed variant_get extraction after — the
    shred-once-read-many path for JSON at scale (no per-access string
    re-parse, unlike get_json_object). Oracle mirrors with DuckDB
    json_extract."""
    ev = read_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.count_distinct("k").alias("k_distinct"),
            F.avg("k").alias("k_avg"),
        )
    )


PROPS_VARIANT_STATS_SQL = """
SELECT event_type, count(k) AS n,
       count(DISTINCT k) AS k_distinct,
       avg(k) AS k_avg
FROM (SELECT event_type, json_extract_string(props, '$.k')::bigint AS k FROM events)
GROUP BY event_type
"""


def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical quality score: per-document bigram cross-entropy under
    the corpus's own bigram language model — the classic cheap perplexity
    proxy for filtering (docs whose word transitions are unlike the corpus
    score high). Two aggregations over exploded bigrams (model build:
    bigram + unigram-prefix counts) + one broadcast-joined re-score pass;
    every count is corpus-derived so no smoothing is needed. Cross-entropy
    is rounded to 6 decimals (sim_r precedent: float sums are
    order-sensitive in the last ulps)."""
    return doc_lm_perplexity_frame(read_table(spark, sf_dir, "documents"))


def doc_lm_perplexity_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of doc_lm_perplexity (r15: split out so the 100x
    scale probe can drive the identical plan over a synthetic scaled
    corpus; results in BENCH_NOTES.md). Requires (doc_id, text)."""
    base = docs.where(F.size(TX.tokens(F.col("text"))) >= 2)
    bg = base.select(
        "doc_id",
        F.explode_outer(TX.ordered_shingles(F.col("text"), 2)).alias("bigram"),
    )
    # checkpoint the MODEL, not the stream (r11): the prefix re-aggregation
    # and the scoring join both consume the model — uncheckpointed, each
    # re-ran the corpus explode behind it (3 visible fact scans -> 2: one
    # model build + one scoring pass). The exploded bigram STREAM itself is
    # ~2x corpus bytes, so materializing it trades a cheap pruned re-scan
    # for a fat write — the embedding_near_dup rule says don't.
    from hadoop_data_lake_spark.core.io import checkpoint_serialized

    model = checkpoint_serialized(
        bg.groupBy("bigram").agg(F.count("*").alias("c12"))
    )
    # prefix counts re-aggregate the MODEL (distinct bigrams), not the
    # exploded corpus: sum of c12 over bigrams sharing w1 == the corpus
    # unigram-prefix count, one cheap shuffle instead of a third full
    # explode pass (measured 5.6s -> see bench)
    prefix = (
        model.select(
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"), "c12"
        )
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    scored = (
        bg.join(model, "bigram")
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .join(prefix, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(-F.log2(F.col("c12") / F.col("c1"))), 6
            ).alias("cross_entropy_bits"),
        )
    )
    return scored


DOC_LM_PERPLEXITY_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM base WHERE len(w) >= 2
),
model AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY bigram),
prefix AS (
  SELECT split_part(bigram, ' ', 1) AS w1, sum(c12)::bigint AS c1
  FROM model GROUP BY 1
)
SELECT bg.doc_id,
       count(*) AS n_bigrams,
       round(avg(-log2(model.c12 / prefix.c1)), 6) AS cross_entropy_bits
FROM bg
JOIN model USING (bigram)
JOIN prefix ON split_part(bg.bigram, ' ', 1) = prefix.w1
GROUP BY bg.doc_id
"""


# Assembled here (module top defines the fn) — nests the full perplexity
# query as a derived table; the outer query adds the per-lang quantile gate.
PERPLEXITY_FILTER_SQL = f"""
WITH ppl AS (SELECT * FROM ({DOC_LM_PERPLEXITY_SQL}) t),
scored AS (
  SELECT d.lang, ppl.cross_entropy_bits
  FROM ppl JOIN documents d USING (doc_id)
),
cut AS (
  SELECT lang, round(quantile_cont(cross_entropy_bits, 0.9), 6) AS cutoff
  FROM scored GROUP BY lang
)
SELECT s.lang, count(*) AS n_docs,
       sum(CASE WHEN s.cross_entropy_bits <= c.cutoff THEN 1 ELSE 0 END)::bigint AS n_kept,
       round(max(c.cutoff), 6) AS cutoff_r
FROM scored s JOIN cut c ON s.lang = c.lang
GROUP BY s.lang
"""


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 20 BPE merges learned from the documents corpus
    (functions/bpe.py — word-frequency collapse makes training
    corpus-size-independent after one scan). Rows-only: the iterative
    argmax loop is not one SQL query; serial-reference parity and
    partitioning invariance are asserted in tests/test_bpe.py."""
    from hadoop_data_lake_spark.functions.bpe import bpe_train

    docs = read_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=20)
    return local_frame(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


def token_heavy_hitters_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters: approx_top_k over the exploded token
    stream — bounded-memory frequency estimation (completes the sketch
    family: HLL cardinality, approx percentile, top-k frequency). Rows-only:
    sketch internals are engine-specific; overlap with the exact top-k is
    asserted in tests/test_text.py."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode_outer(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    return (
        toks.agg(F.expr("approx_top_k(tok, 20)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").alias("approx_count"),
        )
    )


def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching plan (batch size 8, 64-token buckets):
    documents grouped with similar lengths so training batches pad to the
    bucket ceiling, not the corpus max — the dynamic-batching step after
    tokenization. One shuffle on the bucket key; deterministic doc_id order
    within buckets."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    bucket = F.expr("n_tok div 64")
    w = Window.partitionBy("bucket").orderBy(F.col("doc_id").asc())
    rn = F.row_number().over(w) - 1
    return (
        docs.withColumn("bucket", bucket)
        .withColumn("rn", rn)
        .select(
            "doc_id",
            "n_tok",
            "bucket",
            F.expr("rn div 8").alias("batch_idx"),
            F.expr("rn % 8").alias("pos_in_batch"),
        )
    )


LENGTH_BUCKET_BATCHES_SQL = """
WITH d AS (
  SELECT doc_id, len(string_split(text, ' '))::bigint AS n_tok FROM documents
),
r AS (
  SELECT doc_id, n_tok, n_tok // 64 AS bucket,
         row_number() OVER (PARTITION BY n_tok // 64 ORDER BY doc_id) - 1 AS rn
  FROM d
)
SELECT doc_id, n_tok, bucket,
       (rn // 8)::int AS batch_idx,
       (rn % 8)::int AS pos_in_batch
FROM r
"""


# ---------------------------------------------------------------------------
# Deterministic sketch family (functions/detsketches.py): the oracle-checked
# counterparts of the rows-only approx_count_distinct / approx_top_k entries.
# ---------------------------------------------------------------------------


def hll_det_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day via the DETERMINISTIC HyperLogLog
    (functions/detsketches.hll_det_estimate): md5-bucketed integer
    registers, one closed-form float estimate — fully replayed by the
    DuckDB oracle, unlike `daily_unique_users_approx` whose HLL++ internals
    are engine-specific. exact_users rides along so the estimate's error is
    visible in the result itself. One shuffle of the facts down to 256
    integer registers per day — the 100 TB rollup shape."""
    from hadoop_data_lake_spark.functions.detsketches import hll_det_estimate

    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").cast("string").alias("day"), "user_id"
    )
    est = hll_det_estimate(ev, ["day"], "user_id")
    exact = ev.groupBy("day").agg(F.countDistinct("user_id").alias("exact_users"))
    return est.join(exact, "day").select(
        "day", F.round("est", 4).alias("hll_users_r"), "exact_users"
    )


def _hll_daily_sql() -> str:
    from hadoop_data_lake_spark.functions.detsketches import hll_det_estimate_sql

    inner = hll_det_estimate_sql(
        "(SELECT CAST(ts AS DATE)::varchar AS day, user_id FROM events) s",
        ["day"],
        "user_id::varchar"
    )
    return f"""
WITH est AS ({inner}),
exact AS (
  SELECT CAST(ts AS DATE)::varchar AS day, count(DISTINCT user_id) AS exact_users
  FROM events GROUP BY CAST(ts AS DATE)::varchar
)
SELECT est.day, round(est.est, 4) AS hll_users_r, exact.exact_users
FROM est JOIN exact ON est.day = exact.day
"""


HLL_DET_DAILY_USERS_SQL = _hll_daily_sql()


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type via a deterministic KMV (theta-style)
    sketch, PLUS the '__all__' row estimated by MERGING the per-type
    sketches — the k smallest hashes of the unioned states — without ever
    revisiting the facts. That merge step is the whole point of KMV at
    100 TB: distinct-count any union of grains from tiny persisted states.
    Estimates and exact counts side by side; oracle replays both."""
    from pyspark.sql import Window

    from hadoop_data_lake_spark.functions.detsketches import (
        KMV_K,
        kmv_estimate,
        kmv_minima,
    )

    ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    # checkpoint the k-min states (r9 scan-multiplicity audit): the merge,
    # the estimate union and the per-type estimates each re-executed the
    # hash + rank window otherwise (4 events scans; now 3: this pass +
    # the two exact-count branches)
    mins = kmv_minima(ev, ["event_type"], "user_id").localCheckpoint(eager=True)
    merged = mins.select(F.lit("__all__").alias("event_type"), "h").distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    merged_k = (
        merged.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    est = kmv_estimate(mins.unionByName(merged_k), ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    ).unionByName(
        ev.agg(
            F.lit("__all__").alias("event_type"),
            F.countDistinct("user_id").alias("exact_users"),
        )
    )
    return est.join(exact, "event_type").select(
        "event_type", F.round("est", 4).alias("kmv_users_r"), "exact_users"
    )


def _kmv_users_sql() -> str:
    from hadoop_data_lake_spark.functions.detsketches import KMV_K

    h = md5_60bit_sql("user_id::varchar")
    return f"""
WITH hh AS (
  SELECT DISTINCT event_type, {h}::bigint AS h FROM events
),
mins AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hh
  ) WHERE rn <= {KMV_K}
),
merged AS (
  SELECT '__all__' AS event_type, h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM mins)
  ) WHERE rn <= {KMV_K}
),
state AS (
  SELECT * FROM mins UNION ALL SELECT * FROM merged
),
agg AS (
  SELECT event_type, count(*) AS n_min, max(h) AS hk
  FROM state GROUP BY event_type
),
est AS (
  SELECT event_type,
         CASE WHEN n_min < {KMV_K} THEN n_min::double
              ELSE {float((KMV_K - 1) * (1 << 60))!r} / hk::double END AS est
  FROM agg
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_users FROM events GROUP BY event_type
  UNION ALL
  SELECT '__all__', count(DISTINCT user_id) FROM events
)
SELECT est.event_type, round(est.est, 4) AS kmv_users_r, exact.exact_users
FROM est JOIN exact ON est.event_type = exact.event_type
"""


KMV_DISTINCT_USERS_SQL = _kmv_users_sql()


def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point estimates for the exact top-20 corpus tokens:
    token, n_true, cms_est (cms_est >= n_true by construction; the gap is
    the collision error e*N/w). The sketch is the d x w bigint cell table —
    ONE shuffle of the token stream into 2048 mergeable integer cells; the
    probe side is a broadcast join. Deterministic salted-md5 bucketing makes
    the whole estimate SQL-replayable, unlike `token_heavy_hitters_approx`
    (approx_top_k, engine-specific)."""
    from pyspark.sql import Window

    from hadoop_data_lake_spark.functions.detsketches import (
        cms_point_estimates,
        cms_sketch_weighted,
    )

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok")).where(
        F.col("tok") != ""
    )
    # aggregate-first (r11): the token COUNT table is vocabulary-bounded,
    # and both consumers — the sketch (weighted cells are identical to
    # stream-counted cells, addition commutes) and the exact top-20 —
    # derive from it, so the corpus is scanned + tokenized ONCE (was 3x)
    # and the checkpoint is vocab-sized, not stream-sized
    counts = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n_true"))
        .localCheckpoint(eager=True)
    )
    sketch = cms_sketch_weighted(counts, "tok", "n_true")
    w = Window.orderBy(F.col("n_true").desc(), F.col("tok").asc())
    top = (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .drop("rnk")
    )
    est = cms_point_estimates(sketch, top.select("tok"), "tok")
    return top.join(est, "tok").select(
        F.col("tok").alias("token"), "n_true", "cms_est"
    )


def _cms_tokens_sql() -> str:
    from hadoop_data_lake_spark.functions.detsketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_cells_sql,
    )

    nz_sql = (
        "SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok "
        "FROM documents) WHERE tok <> ''"
    )
    cells = cms_cells_sql(nz_sql, "it.tok")
    hp = salted_md5_60bit_sql("t.tok", "i.range")
    return f"""
WITH nz AS ({nz_sql}),
cells AS (
{cells}
),
top AS (
  SELECT tok, n_true FROM (
    SELECT tok, count(*) AS n_true,
           row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rnk
    FROM nz GROUP BY tok
  ) WHERE rnk <= 20
),
probes AS (
  SELECT t.tok, i.range AS r, {hp} % {CMS_WIDTH} AS b
  FROM top t CROSS JOIN range({CMS_DEPTH}) i
),
est AS (
  SELECT p.tok, min(c.cnt) AS cms_est
  FROM probes p JOIN cells c ON p.r = c.r AND p.b = c.b
  GROUP BY p.tok
)
SELECT top.tok AS token, top.n_true, est.cms_est
FROM top JOIN est ON top.tok = est.tok
"""


CMS_TOKEN_COUNTS_SQL = _cms_tokens_sql()


def doc_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under an interpolated Kneser-Ney bigram
    LM — the smoothing that actually ships in n-gram LM toolkits (absolute
    discount D=0.75 + continuation-probability backoff), upgrading
    `doc_lm_perplexity`'s unsmoothed MLE. Every model quantity is an
    integer count (bigram count, prefix count, distinct-successor count,
    distinct-predecessor "continuation" count, distinct-bigram total), so
    the per-bigram probability

        P(w2|w1) = max(c12 - D, 0)/c1 + (D * n1p_fwd(w1)/c1) * (n1p_bwd(w2)/B)

    is one identical float expression per row in both engines; the per-doc
    score is avg(-log2 P) rounded (the doc_lm_perplexity precedent). Model
    tables derive from ONE bigram aggregation (prefix/successor counts
    re-aggregate the model, not the corpus)."""
    docs = read_table(spark, sf_dir, "documents")
    base = docs.where(F.size(TX.tokens(F.col("text"))) >= 2)
    bg = base.select(
        "doc_id",
        F.explode_outer(TX.ordered_shingles(F.col("text"), 2)).alias("bigram"),
    )
    # (r11 note: the checkpointed MODEL below already bounds the plan at
    # 2 fact passes — model build + re-score. The bigram STREAM is ~2x
    # corpus bytes, so it is deliberately NOT checkpointed: a pruned
    # re-scan + explode is cheaper than materializing the fat stream —
    # the embedding_near_dup rule.)
    model = (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("c12"))
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .localCheckpoint(eager=True)
    )  # three re-aggregations below read the model, never the corpus
    fwd = model.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1p_fwd")
    )
    bwd = model.groupBy("w2").agg(F.count("*").alias("n1p_bwd"))
    btot = model.agg(F.count("*").alias("b_total"))
    d = F.lit(0.75)
    scored = (
        bg.join(model.select("bigram", "c12", "w1", "w2"), "bigram")
        .join(fwd, "w1")
        .join(bwd, "w2")
        .crossJoin(F.broadcast(btot))
        .withColumn(
            "p",
            F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
            + (d * F.col("n1p_fwd") / F.col("c1"))
            * (F.col("n1p_bwd") / F.col("b_total")),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.log2("p")), 6).alias("kn_entropy_bits"),
        )
    )
    return scored


DOC_LM_KNESER_NEY_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM base WHERE len(w) >= 2
),
model AS MATERIALIZED (
  SELECT bigram, count(*) AS c12,
         split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2
  FROM bg GROUP BY bigram
),
fwd AS (SELECT w1, sum(c12)::bigint AS c1, count(*) AS n1p_fwd FROM model GROUP BY w1),
bwd AS (SELECT w2, count(*) AS n1p_bwd FROM model GROUP BY w2),
btot AS (SELECT count(*) AS b_total FROM model),
scored AS (
  SELECT bg.doc_id,
         greatest(m.c12 - 0.75, 0.0) / f.c1
         + (0.75 * f.n1p_fwd / f.c1) * (b.n1p_bwd / (SELECT b_total FROM btot)) AS p
  FROM bg
  JOIN model m ON bg.bigram = m.bigram
  JOIN fwd f ON m.w1 = f.w1
  JOIN bwd b ON m.w2 = b.w2
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(-log2(p)), 6) AS kn_entropy_bits
FROM scored GROUP BY doc_id
"""


def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length ACROSS sources — the
    classic cross-batch distribution alignment (genomics' quantile
    normalization, discretized to a percentile grid): rank each doc within
    its source, map the rank to a 100-cell grid with INTEGER arithmetic
    (g = (rank-1)*100 div n_source), and replace the doc's length with the
    corpus-wide mean length of its grid cell. Ranks tie-break on doc_id so
    both engines agree row-for-row; the only float is the final mean of
    integer lengths, rounded once. Two shuffles (rank per source, grid
    agg) + one broadcast-back join."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    # serialized checkpoint (r11): the grid aggregate and the broadcast-
    # back join both consume the ranked frame — uncheckpointed, the
    # per-source rank window re-runs per branch (2 passes -> 1)
    from hadoop_data_lake_spark.core.io import checkpoint_serialized

    ranked = checkpoint_serialized(
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(Window.partitionBy("source")).alias("ns"),
        ).withColumn("g", F.expr("((rk - 1) * 100) div ns"))
    )
    grid = ranked.groupBy("g").agg(
        F.count("*").alias("n_in_cell"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 6).alias("ref_len_r"),
    )
    return ranked.join(F.broadcast(grid), "g").select(
        "doc_id", "source", "n_chars", "g", "ref_len_r"
    )


QUANTILE_NORMALIZE_DOCLEN_SQL = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS ns
  FROM documents
),
g AS (
  SELECT doc_id, source, n_chars, ((rk - 1) * 100) // ns AS g FROM ranked
),
grid AS (
  SELECT g, count(*) AS n_in_cell,
         round(sum(n_chars)::double / count(*), 6) AS ref_len_r
  FROM g GROUP BY g
)
SELECT g.doc_id, g.source, g.n_chars, g.g, grid.ref_len_r
FROM g JOIN grid ON g.g = grid.g
"""


def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the standard RAG
    pattern: a LEXICAL ranking (distinct-token overlap with the query
    document) and a VECTOR ranking (embedding cosine to the query vector,
    documents and embeddings sharing ids) are fused as

        rrf = 1/(60 + rank_lex) + 1/(60 + rank_vec)

    (Cormack et al.'s k=60), top-20 returned. Both ranks are integers with
    (rounded score desc, id asc) tie-breaks, so the fusion is exactly
    replayable. Shapes: the lexical side is an inverted-index semi-join on
    the broadcast query token set (never a corpus self-join); the vector
    side is one broadcast cosine pass — the brute-force tier, swappable
    for the LSH/IVF tiers at corpus scale. Both corpus-wide rank lists use
    the two-phase distributed prefix sum (descending = ascending on the
    negated score) — never a global single-task Window.orderBy over the
    corpus — and the final top-20 is orderBy().limit(20), planned as
    TakeOrderedAndProject (caught by the round-5 plan-audit funnel rule)."""
    from hadoop_data_lake_spark.functions.vectors import cosine
    from hadoop_data_lake_spark.operators.packing import prefix_agg

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qtok = (
        docs.where(F.col("doc_id") == 0)
        .select(F.explode(F.array_distinct(TX.tokens(F.col("text")))).alias("token"))
        .distinct()
    )
    dtok = docs.where(F.col("doc_id") != 0).select(
        "doc_id", F.explode(F.array_distinct(TX.tokens(F.col("text")))).alias("token")
    )
    overlap = (
        dtok.join(F.broadcast(qtok), "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("ov"))
    )
    lex = prefix_agg(
        docs.where(F.col("doc_id") != 0)
        .join(overlap, "doc_id", "left")
        .select("doc_id", F.coalesce("ov", F.lit(0)).alias("ov"))
        .withColumn("__no", -F.col("ov"))
        .withColumn("__one", F.lit(1)),
        ["__no", "doc_id"],
        sum_cols={"r_lex": "__one"},
    ).select("doc_id", "ov", "r_lex")
    qvec = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb")
    )
    vec = prefix_agg(
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("qemb")), 6).alias("cos_r"),
        )
        .withColumn("__nc", -F.col("cos_r"))
        .withColumn("__one", F.lit(1)),
        ["__nc", "doc_id"],
        sum_cols={"r_vec": "__one"},
    ).select("doc_id", "cos_r", "r_vec")
    fused = (
        lex.join(vec, "doc_id")
        .withColumn(
            "rrf_r",
            F.round(
                F.lit(1.0) / (F.lit(60.0) + F.col("r_lex"))
                + F.lit(1.0) / (F.lit(60.0) + F.col("r_vec")),
                9,
            ),
        )
        .orderBy(F.col("rrf_r").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    return fused.select("doc_id", "ov", "r_lex", "cos_r", "r_vec", "rrf_r")


def _rrf_sql() -> str:
    cos = cosine_sql("e.embedding", "q.embedding")
    return f"""
WITH qtok AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id = 0
),
dtok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id <> 0
),
overlap AS (
  SELECT d.doc_id, count(*) AS ov
  FROM dtok d JOIN qtok USING (token) GROUP BY d.doc_id
),
lex AS (
  SELECT doc.doc_id, coalesce(o.ov, 0) AS ov,
         row_number() OVER (ORDER BY coalesce(o.ov, 0) DESC, doc.doc_id ASC) AS r_lex
  FROM (SELECT doc_id FROM documents WHERE doc_id <> 0) doc
  LEFT JOIN overlap o ON doc.doc_id = o.doc_id
),
vec AS (
  SELECT e.vec_id AS doc_id,
         round({cos}, 6) AS cos_r,
         row_number() OVER (ORDER BY round({cos}, 6) DESC, e.vec_id ASC) AS r_vec
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id <> 0
),
fused AS (
  SELECT l.doc_id, l.ov, l.r_lex, v.cos_r, v.r_vec,
         round(1.0 / (60.0 + l.r_lex) + 1.0 / (60.0 + v.r_vec), 9) AS rrf_r
  FROM lex l JOIN vec v ON l.doc_id = v.doc_id
)
SELECT doc_id, ov, r_lex, cos_r, r_vec, rrf_r
FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_r DESC, doc_id ASC) AS rnk FROM fused
) WHERE rnk <= 20
"""


RRF_HYBRID_RETRIEVAL_SQL = _rrf_sql()


def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class geometry report: cosine similarity between per-label
    embedding centroids — the embedding-space health check run before
    training a classifier on the labels (collapsed or overlapping classes
    show up as near-1 off-diagonal similarity). Float centroid means are
    order-sensitive, so each component is QUANTIZED to integer micro-units
    first (floor(x * 1e6), the srp_int_topk precedent); the per-label
    component sums are then exact bigints, and the centroid cosine is one
    closed-form double expression over identical integers. Shapes: explode
    to (label, dim, q) -> one shuffle to 10x64 integer cells -> re-collect
    ordered centroid arrays -> tiny 45-row cross of label pairs."""
    emb = read_table(spark, sf_dir, "embeddings").select("label", "embedding")
    cells = (
        emb.select(
            "label", F.posexplode(F.col("embedding")).alias("dim", "x")
        )
        .withColumn("q", F.floor(F.col("x").cast("double") * 1e6).cast("long"))
        .groupBy("label", "dim")
        .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
    )
    cent = cells.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "s"))), lambda t: t["s"]
        ).alias("c"),
        F.min("n").alias("n"),
    )
    a = cent.select(
        F.col("label").alias("label_a"), F.col("c").alias("ca"), F.col("n").alias("na")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("c").alias("cb"), F.col("n").alias("nb")
    )
    pairs = a.join(b, a["label_a"] < b["label_b"])
    # cosine over integer sums: scale factors (1/na, 1/nb) cancel in the
    # cosine, so the integer vectors ARE the centroids up to scale.
    dotc = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norma = F.sqrt(
        F.aggregate(
            F.transform("ca", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    normb = F.sqrt(
        F.aggregate(
            F.transform("cb", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(dotc / (norma * normb), 6).alias("centroid_cos_r"),
    )


LABEL_CENTROID_SIMILARITY_SQL = """
WITH cells AS (
  SELECT label, u.dim, sum(floor(u.x::double * 1e6)::bigint)::bigint AS s,
         count(*) AS n
  FROM embeddings,
       LATERAL (SELECT generate_subscripts(embedding, 1) AS dim,
                       unnest(embedding) AS x) u
  GROUP BY label, u.dim
),
cent AS (
  SELECT label, list(s ORDER BY dim) AS c, min(n) AS n FROM cells GROUP BY label
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         a.c AS ca, b.c AS cb, a.n AS na, b.n AS nb
  FROM cent a JOIN cent b ON a.label < b.label
)
SELECT label_a, label_b, na::bigint AS n_a, nb::bigint AS n_b,
       round(
         list_reduce(list_prepend(0.0::double,
           list_transform(range(1, len(ca) + 1), i -> ca[i]::double * cb[i]::double)),
           (acc, v) -> acc + v)
         / (sqrt(list_reduce(list_prepend(0.0::double,
              list_transform(range(1, len(ca) + 1), i -> ca[i]::double * ca[i]::double)),
              (acc, v) -> acc + v))
            * sqrt(list_reduce(list_prepend(0.0::double,
                list_transform(range(1, len(cb) + 1), i -> cb[i]::double * cb[i]::double)),
                (acc, v) -> acc + v))),
         6) AS centroid_cos_r
FROM pairs
"""


def stream_topk_types_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per tumbling 10-minute window, where the counts
    come from the STREAMING pipeline (watermarked windowed aggregation
    replayed deterministically over static parquet) and the rank is batch
    post-processing on the drained sink — the lambda seam as it actually
    ships: append-mode streaming cannot rank its own aggregates (rank over
    an un-finalized window would retract), so serving-time top-k runs on
    the materialized aggregate table. Oracle: the equivalent batch
    window+rank."""
    from pyspark.sql import Window

    out = run_batch_replay(spark, f"{sf_dir}/events.parquet", window_seconds=600)
    w = Window.partitionBy("window_start_us").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        out.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 2)
        .select("window_start_us", "event_type", "n", "rnk")
    )


STREAM_TOPK_TYPES_PER_WINDOW_SQL = """
WITH counts AS (
  SELECT (epoch_us(ts) // 600000000) * 600000000 AS window_start_us,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT window_start_us, event_type, n, rnk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY window_start_us ORDER BY n DESC, event_type ASC) AS rnk
  FROM counts
) WHERE rnk <= 2
"""


def minhash_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the banded MinHash LSH pipeline
    against exact-Jaccard ground truth at threshold 0.3 (the registry
    configuration): candidate pairs
    from band collisions (the production path) vs all true pairs from the
    naive index (feasible at eval scale; its max_df=None mode exists
    exactly for this). One summary row: candidate/true-positive counts,
    precision and recall. Because the production path VERIFIES every
    band collision with exact Jaccard before emitting, precision is 1.0
    by construction (the oracle row asserts it rather than assumes it);
    the informative number is RECALL — the band-miss rate of the
    16-hash/4-band config — the measure-don't-guess loop every dedup
    deployment needs before trusting a banding choice. Pair frames join on
    canonical (doc_a < doc_b) keys; counts are integers, the two ratios a
    single rounded division each."""
    from hadoop_data_lake_spark.operators import dedup as DD

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # checkpoint both pair frames (r9 scan-multiplicity audit): the
    # semi-join and the three counts each re-executed the full shingle/
    # minhash pipelines otherwise — 20 documents scans per run; near-dup
    # pair sets are tiny next to the corpus
    truth = (
        DD.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.3, max_df=None)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    cand = (
        DD.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=16, bands=4, threshold=0.3
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    hits = cand.join(truth, ["doc_a", "doc_b"], "left_semi")
    stats = (
        cand.agg(F.count("*").alias("n_candidates"))
        .crossJoin(truth.agg(F.count("*").alias("n_true")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
    )
    return stats.select(
        "n_candidates",
        "n_true",
        "n_hits",
        F.when(
            F.col("n_candidates") > 0,
            F.round(
                F.col("n_hits").cast("double") / F.col("n_candidates").cast("double"),
                6,
            ),
        ).alias("precision_r"),
        F.when(
            F.col("n_true") > 0,
            F.round(F.col("n_hits").cast("double") / F.col("n_true").cast("double"), 6),
        ).alias("recall_r"),
    )



def _minhash_eval_pr_sql() -> str:
    return f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({DEDUP_NGRAM_JACCARD_SQL}) t),
cand AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL}) c),
hits AS (SELECT * FROM cand SEMI JOIN truth USING (doc_a, doc_b)),
n AS (
  SELECT (SELECT count(*) FROM cand) AS n_candidates,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM hits) AS n_hits
)
SELECT n_candidates, n_true, n_hits,
       CASE WHEN n_candidates > 0
            THEN round(n_hits::double / n_candidates::double, 6) END AS precision_r,
       CASE WHEN n_true > 0
            THEN round(n_hits::double / n_true::double, 6) END AS recall_r
FROM n
"""


MINHASH_EVAL_PR_SQL = _minhash_eval_pr_sql()


def multimodal_arrow_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-value Shannon entropy per media blob via mapInArrow
    (operators/multimodal.arrow_byte_entropy) — the zero-copy Arrow tier
    of the multimodal family (mapInPandas handles decode/resize; this
    operator never materializes pandas at all). A corruption/
    compressibility screen over opaque binary columns. The Python fold is
    strict left-to-right over ascending byte values, so the DuckDB oracle
    replays it exactly with an ordered list_reduce (ASCII corpus: byte ==
    code point, the multimodal oracle invariant)."""
    docs = read_table(spark, sf_dir, "documents")
    media = synth_media_from_text(docs.where(F.length("text") > 0), "doc_id", "text")
    out = arrow_byte_entropy(media)
    return out.select(
        "media_id", "n_bytes", F.round("byte_entropy", 6).alias("byte_entropy_r")
    )


MULTIMODAL_ARROW_ENTROPY_SQL = """
WITH bytes AS (
  SELECT media_id, n, ord(substr(text, i, 1)) AS bv
  FROM (
    SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n,
           unnest(range(1, octet_length(encode(text)) + 1)) AS i
    FROM documents WHERE length(text) > 0
  )
),
counts AS (
  SELECT media_id, min(n) AS n, bv, count(*) AS c
  FROM bytes GROUP BY media_id, bv
),
folded AS (
  SELECT media_id, min(n) AS n_bytes,
         list_reduce(
           list_prepend(0.0::double, list(c::double * log2(c::double) ORDER BY bv)),
           (acc, x) -> acc + x
         ) AS s
  FROM counts GROUP BY media_id
)
SELECT media_id, n_bytes::bigint AS n_bytes,
       round(log2(n_bytes::double) - s / n_bytes::double, 6) AS byte_entropy_r
FROM folded
"""


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking of the top-20 cosine candidates for query
    vector 0 (lambda = 0.7, k = 10) — the retrieval step between ANN and
    the context window that stops near-duplicate passages crowding out
    coverage. Distributed part: one broadcast cosine pass for relevance,
    one 20x20 pairwise pass for the pool similarity matrix, both
    integer-quantized (floor(cos * 1e6)) so the greedy argmax chain is
    exact integer arithmetic. Sequential part: the k greedy selections
    over the 20-candidate pool run driver-side
    (operators/similarity.mmr_rerank_pool, bounded mini-state). Oracle:
    the same 10 selections unrolled as chained CTEs."""
    from pyspark.sql import Window

    from hadoop_data_lake_spark.functions.vectors import cosine
    from hadoop_data_lake_spark.operators.similarity import mmr_rerank_pool

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            "embedding",
            F.floor(cosine(F.col("embedding"), F.col("qemb")) * 1e6)
            .cast("long")
            .alias("rel_q"),
        )
    )
    w = Window.orderBy(F.col("rel_q").desc(), F.col("doc_id").asc())
    pool = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .drop("rnk")
        .localCheckpoint(eager=True)
    )
    a = pool.select(F.col("doc_id").alias("a"), F.col("embedding").alias("ea"))
    b = pool.select(F.col("doc_id").alias("b"), F.col("embedding").alias("eb"))
    sims = (
        a.join(b, a["a"] < b["b"])
        .select(
            "a",
            "b",
            F.floor(cosine(F.col("ea"), F.col("eb")) * 1e6).cast("long").alias("sim_q"),
        )
    )
    rows = mmr_rerank_pool(pool.select("doc_id", "rel_q"), sims, k=10)
    return local_frame(
        spark, rows, "rank int, doc_id long, rel_q long, score_q long"
    )


def _mmr_sql(k: int = 10) -> str:
    cos_rel = cosine_sql("e.embedding", "q.embedding")
    cos_ab = cosine_sql("pa.embedding", "pb.embedding")
    parts = [
        f"""
WITH scored AS MATERIALIZED (
  SELECT e.vec_id AS doc_id, e.embedding,
         floor({cos_rel} * 1e6)::bigint AS rel_q
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id <> 0
),
pool AS MATERIALIZED (
  SELECT doc_id, embedding, rel_q FROM (
    SELECT *, row_number() OVER (ORDER BY rel_q DESC, doc_id ASC) AS rnk FROM scored
  ) WHERE rnk <= 20
),
sims AS MATERIALIZED (
  SELECT pa.doc_id AS a, pb.doc_id AS b,
         floor({cos_ab} * 1e6)::bigint AS sim_q
  FROM pool pa JOIN pool pb ON pa.doc_id < pb.doc_id
),
sel1 AS MATERIALIZED (
  SELECT 1 AS rank, doc_id, rel_q, 7 * rel_q AS score_q FROM pool
  ORDER BY 7 * rel_q DESC, doc_id ASC LIMIT 1
)"""
    ]
    for i in range(2, k + 1):
        p = i - 1
        union_sel = " UNION ALL ".join(
            f"SELECT doc_id FROM sel{j}" for j in range(1, i)
        )
        parts.append(
            f""",
chosen{p} AS MATERIALIZED ({union_sel}),
cand{i} AS MATERIALIZED (
  SELECT c.doc_id, c.rel_q,
         7 * c.rel_q - 3 * max(s.sim_q) AS score_q
  FROM pool c
  JOIN sims s ON (s.a = c.doc_id AND s.b IN (SELECT doc_id FROM chosen{p}))
             OR (s.b = c.doc_id AND s.a IN (SELECT doc_id FROM chosen{p}))
  WHERE c.doc_id NOT IN (SELECT doc_id FROM chosen{p})
  GROUP BY c.doc_id, c.rel_q
),
sel{i} AS MATERIALIZED (
  SELECT {i} AS rank, doc_id, rel_q, score_q FROM cand{i}
  ORDER BY score_q DESC, doc_id ASC LIMIT 1
)"""
        )
    final = " UNION ALL ".join(f"SELECT * FROM sel{j}" for j in range(1, k + 1))
    parts.append(f"\n{final}")
    return "".join(parts)


MMR_RERANK_SQL = _mmr_sql()


def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75, Lucene idf) retrieval for the query document's
    token set — the lexical standard the RRF query's raw overlap
    approximates. Every model quantity is an integer count (tf, df, N,
    doclen; avgdl is one exact integer ratio), each matched term's partial
    score is one identical float expression, and the per-document SUM of
    term scores — the one place float order could diverge — is an ordered
    left fold over terms sorted by token (collect -> array_sort ->
    aggregate ⇔ DuckDB list(... ORDER BY) -> list_reduce). Shapes: inverted
    index semi-joined to the broadcast query token set; never a corpus
    self-join."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    # ONE corpus explode: tf is the model table, materialized because four
    # consumers (dl, stats, df, the scoring join) would otherwise each
    # re-execute the explode (alias-differing subtrees reuse nothing —
    # the plan-audit caught 5 scans). dl re-aggregates tf: sum(tf) per
    # doc == the token count.
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.sum("dl").alias("tot_dl"), F.count("*").alias("n_docs")
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    qtok = (
        docs.where(F.col("doc_id") == 0)
        .select(F.explode(F.array_distinct(TX.tokens(F.col("text")))).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    matched = (
        tf.join(F.broadcast(qtok), "token")
        .where(F.col("doc_id") != 0)
        .join(df_, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("tot_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1.0
    )
    tscore = idf * (
        F.col("tf") * 2.2
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl").cast("double") / avgdl))
    )
    per_doc = (
        matched.select("doc_id", "token", tscore.alias("ts"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("token", "ts"))),
                    lambda s: s["ts"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.round("score", 6).desc(), F.col("doc_id").asc())
    return (
        per_doc.withColumn("score_r", F.round("score", 6))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select("rnk", "doc_id", "n_terms", "score_r")
    )


BM25_RETRIEVAL_SQL = """
WITH toks AS (
  SELECT doc_id, tok AS token
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT sum(dl)::bigint AS tot_dl, count(*) AS n_docs FROM dl),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
qtok AS (SELECT DISTINCT token FROM toks WHERE doc_id = 0),
matched AS (
  SELECT tf.doc_id, tf.token,
         ln((s.n_docs::double - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * 2.2
            / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl::double
                              / (s.tot_dl::double / s.n_docs::double)))) AS ts
  FROM tf
  JOIN qtok USING (token)
  JOIN df USING (token)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  WHERE tf.doc_id <> 0
),
per_doc AS (
  SELECT doc_id, count(*) AS n_terms,
         list_reduce(
           list_prepend(0.0::double, list(ts ORDER BY token)),
           (acc, x) -> acc + x
         ) AS score
  FROM matched GROUP BY doc_id
)
SELECT rnk, doc_id, n_terms, round(score, 6) AS score_r FROM (
  SELECT *, row_number() OVER (ORDER BY round(score, 6) DESC, doc_id ASC) AS rnk
  FROM per_doc
) WHERE rnk <= 20
"""


def nb_source_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained DISTRIBUTED (one token-count
    aggregation = the sufficient statistics; that's why NB is the
    canonical map-reduce classifier) on an 80% deterministic hash split
    of documents, predicting `source`, evaluated on the held-out 20%.
    Add-one smoothing keeps every likelihood a ratio of integers; each
    test doc's class score is log-prior + an ORDERED fold of token
    log-likelihoods (token-sorted, exactly replayable); argmax ties break
    on class name. Output: per (true_source, predicted_source) confusion
    counts — the evaluation artifact, not just an accuracy scalar."""
    from hadoop_data_lake_spark.functions.hashing import md5_60bit
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    split = docs.withColumn(
        "is_train", (md5_60bit(F.col("doc_id").cast("string")) % 5 < 4).cast("int")
    )
    # labels (tiny) and the tokenized corpus are each materialized ONCE:
    # seven downstream consumers (train stats, priors, vocab, test side)
    # otherwise re-run the scan+explode per branch (plan audit: 8 scans).
    # Persisting the tokenized intermediate is the standard move in
    # retrieval/LM pipelines — it is the expensive pass.
    labels = split.select("doc_id", "source", "is_train").localCheckpoint(
        eager=True
    )
    toks = (
        split.select(
            "doc_id",
            "source",
            "is_train",
            F.explode(TX.tokens(F.col("text"))).alias("t"),
        )
        .where(F.col("t") != "")
        .localCheckpoint(eager=True)
    )
    # --- sufficient statistics from the train split (one shuffle) ---------
    class_tok = toks.where(F.col("is_train") == 1).groupBy("source", "t").agg(
        F.count("*").alias("ctk")
    )
    class_tot = class_tok.groupBy("source").agg(
        F.sum("ctk").alias("ctot"), F.count("*").alias("v_seen")
    )
    vocab = class_tok.select("t").distinct()
    v_size = vocab.agg(F.count("*").alias("v"))
    priors = (
        labels.where(F.col("is_train") == 1)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )
    n_train = labels.where(F.col("is_train") == 1).agg(
        F.count("*").alias("n_train")
    )
    # --- score test docs: per (doc, class) ordered log-likelihood fold ----
    test_toks = (
        toks.where(F.col("is_train") == 0)
        .groupBy("doc_id", "source", "t")
        .agg(F.count("*").alias("tf"))
        .join(vocab, "t", "left_semi")  # OOV tokens dropped (both engines)
    )
    classes = priors.select(F.col("source").alias("cls"))
    scored = (
        test_toks.crossJoin(F.broadcast(classes))
        .join(
            class_tok.select(
                F.col("source").alias("cls"), "t", "ctk"
            ),
            ["cls", "t"],
            "left",
        )
        .join(class_tot.select(F.col("source").alias("cls"), "ctot"), "cls")
        .crossJoin(F.broadcast(v_size))
        .withColumn(
            "ll",
            F.col("tf")
            * F.log(
                (F.coalesce(F.col("ctk"), F.lit(0)) + 1).cast("double")
                / (F.col("ctot") + F.col("v")).cast("double")
            ),
        )
    )
    doc_cls = scored.groupBy("doc_id", "source", "cls").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "ll"))),
                lambda s: s["ll"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("ll_sum")
    )
    with_prior = (
        doc_cls.join(priors.select(F.col("source").alias("cls"), "n_docs"), "cls")
        .crossJoin(F.broadcast(n_train))
        .withColumn(
            "score",
            F.round(
                F.col("ll_sum")
                + F.log(
                    F.col("n_docs").cast("double") / F.col("n_train").cast("double")
                ),
                9,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cls").asc())
    pred = with_prior.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") == 1
    )
    return (
        pred.groupBy(
            F.col("source").alias("true_source"),
            F.col("cls").alias("predicted_source"),
        )
        .agg(F.count("*").alias("n"))
    )


def _nb_sql() -> str:
    h = md5_60bit_sql("doc_id::varchar")
    return f"""
WITH split AS MATERIALIZED (
  SELECT doc_id, source, text,
         CASE WHEN {h} % 5 < 4 THEN 1 ELSE 0 END AS is_train
  FROM documents
),
toks AS MATERIALIZED (
  SELECT doc_id, source, is_train, t
  FROM (SELECT doc_id, source, is_train,
               unnest(string_split(text, ' ')) AS t FROM split)
  WHERE t <> ''
),
class_tok AS MATERIALIZED (
  SELECT source, t, count(*) AS ctk FROM toks WHERE is_train = 1 GROUP BY source, t
),
class_tot AS (SELECT source, sum(ctk)::bigint AS ctot FROM class_tok GROUP BY source),
vocab AS MATERIALIZED (SELECT DISTINCT t FROM class_tok),
v_size AS (SELECT count(*) AS v FROM vocab),
priors AS (SELECT source, count(*) AS n_docs FROM split WHERE is_train = 1 GROUP BY source),
n_train AS (SELECT count(*) AS n_train FROM split WHERE is_train = 1),
test_toks AS MATERIALIZED (
  SELECT doc_id, source, t, count(*) AS tf
  FROM toks WHERE is_train = 0 GROUP BY doc_id, source, t
),
test_iv AS (SELECT tt.* FROM test_toks tt SEMI JOIN vocab v ON tt.t = v.t),
scored AS (
  SELECT ti.doc_id, ti.source, c.source AS cls, ti.t,
         ti.tf * ln((coalesce(ct.ctk, 0) + 1)::double
                    / (tot.ctot + (SELECT v FROM v_size))::double) AS ll
  FROM test_iv ti
  CROSS JOIN (SELECT source FROM priors) c
  LEFT JOIN class_tok ct ON ct.source = c.source AND ct.t = ti.t
  JOIN class_tot tot ON tot.source = c.source
),
doc_cls AS (
  SELECT doc_id, source, cls,
         list_reduce(list_prepend(0.0::double, list(ll ORDER BY t)),
                     (acc, x) -> acc + x) AS ll_sum
  FROM scored GROUP BY doc_id, source, cls
),
with_prior AS (
  SELECT d.doc_id, d.source, d.cls,
         round(d.ll_sum + ln(p.n_docs::double
                             / (SELECT n_train FROM n_train)::double), 9) AS score
  FROM doc_cls d JOIN priors p ON p.source = d.cls
),
pred AS (
  SELECT doc_id, source, cls FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rnk
    FROM with_prior
  ) WHERE rnk = 1
)
SELECT source AS true_source, cls AS predicted_source, count(*) AS n
FROM pred GROUP BY source, cls
"""


NB_SOURCE_CLASSIFIER_SQL = _nb_sql()


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank over the corpus word
    co-occurrence graph (adjacent-token pairs, both directions), top-25
    words by rank. Reuses the FIXED-POINT integer PageRank operator
    (operators/graph.pagerank_intexact) verbatim — the whole point of
    having the deterministic iterative core as an operator: TextRank is
    PageRank on a different edge list. Words are mapped to dense integer
    ids by a sorted-vocabulary window (replayable), ranks are exact
    integer units, and the oracle unrolls the same 10 iterations over the
    same CTE-built graph."""
    from pyspark.sql import Window

    from hadoop_data_lake_spark.operators.graph import pagerank_intexact

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    base = docs.select("doc_id", w.alias("w"), F.size(w).alias("n")).where(
        F.col("n") >= 2
    )
    bg = base.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("w"), 1, F.col("n") - 1),
                F.slice(F.col("w"), 2, F.col("n") - 1),
                lambda a, b: F.struct(a.alias("wa"), b.alias("wb")),
            )
        ).alias("p")
    ).select(F.col("p.wa").alias("wa"), F.col("p.wb").alias("wb")).where(
        (F.col("wa") != "") & (F.col("wb") != "") & (F.col("wa") != F.col("wb"))
    )
    # r11 simplification: run PageRank on the word strings directly. The
    # former dense-integer wid mapping (global vocab window + four mapping
    # joins) existed to cheapen the distributed loop's join keys, but a
    # word co-occurrence graph is vocabulary-bounded at ANY corpus scale,
    # so it takes the operator's driver tier — whose numpy kernel encodes
    # node ids itself, so the mapping is pure overhead. Ranks are invariant
    # under the id bijection, so results are value-identical.
    # aggregate-first: dedupe the DIRECTED pairs in one corpus pass (the
    # distinct pair set is vocabulary-bounded), eager-checkpoint the small
    # frame, then symmetrize it — the two union branches otherwise each
    # re-run the corpus explode (2 fact scans -> 1)
    und = bg.distinct().localCheckpoint(eager=True)
    edges = (
        und.select(F.col("wa").alias("src"), F.col("wb").alias("dst"))
        .unionByName(und.select(F.col("wb").alias("src"), F.col("wa").alias("dst")))
        .distinct()
    )
    ranks = pagerank_intexact(edges, iters=10)
    w2 = Window.orderBy(F.col("rank_units").desc(), F.col("word").asc())
    return (
        ranks.select(F.col("node").alias("word"), "rank_units")
        .withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= 25)
    )


def _textrank_sql(iters: int = 10, scale: int = 10**12) -> str:
    parts = [
        """
WITH bgp AS MATERIALIZED (
  SELECT w[i] AS wa, w[i + 1] AS wb
  FROM (
    SELECT w, unnest(range(1, len(w))) AS i
    FROM (SELECT string_split(text, ' ') AS w FROM documents)
    WHERE len(w) >= 2
  )
),
bg AS MATERIALIZED (
  SELECT wa, wb FROM bgp WHERE wa <> '' AND wb <> '' AND wa <> wb
),
vocab AS MATERIALIZED (
  SELECT word, row_number() OVER (ORDER BY word) AS wid FROM (
    SELECT DISTINCT wa AS word FROM bg UNION SELECT DISTINCT wb FROM bg
  )
),
e AS MATERIALIZED (
  SELECT DISTINCT va.wid AS src, vb.wid AS dst
  FROM bg JOIN vocab va ON bg.wa = va.word JOIN vocab vb ON bg.wb = vb.word
  UNION
  SELECT DISTINCT vb.wid, va.wid
  FROM bg JOIN vocab va ON bg.wa = va.word JOIN vocab vb ON bg.wb = vb.word
),
verts AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS MATERIALIZED (SELECT count(*) AS n FROM verts),
outdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
r0 AS MATERIALIZED (SELECT node, (%SCALE% // (SELECT n FROM nn)) AS rank FROM verts)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
s{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(r.rank // d.deg)::bigint AS s
  FROM e JOIN r{p} r ON e.src = r.node JOIN outdeg d ON e.src = d.src
  GROUP BY e.dst
),
dg{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0)::bigint AS dsum FROM r{p} r
  WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = r.node)
),
r{i} AS MATERIALIZED (
  SELECT v.node,
         ((15 * (%SCALE% // (SELECT n FROM nn))) // 100)
         + ((85 * (coalesce(s.s, 0)
                   + ((SELECT dsum FROM dg{i}) // (SELECT n FROM nn)))) // 100)
         AS rank
  FROM verts v LEFT JOIN s{i} s ON v.node = s.node
)"""
        )
    parts.append(
        f"""
SELECT word, rank_units, rnk FROM (
  SELECT v.word, r.rank AS rank_units,
         row_number() OVER (ORDER BY r.rank DESC, v.word ASC) AS rnk
  FROM r{iters} r JOIN vocab v ON r.node = v.wid
) WHERE rnk <= 25"""
    )
    return "".join(parts).replace("%SCALE%", str(scale))


TEXTRANK_KEYWORDS_SQL = _textrank_sql()


def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification readout over the embedding space: a 10%
    deterministic hash split is scored against the remaining 90% by
    5-nearest-cosine majority vote (ties: higher summed quantized
    similarity, then smaller label), emitting the confusion matrix. The
    neighbor ranks use integer-quantized cosines (floor(cos*1e6)) with
    (sim, id) tie-breaks, so winner selection is exact. Shape: the
    brute-force tier (one broadcast of the 10% probe side against the
    corpus — the eval harness pattern); production retrieval would swap
    in the LSH/IVF tiers, which is precisely what minhash_eval_pr-style
    readouts quantify."""
    from hadoop_data_lake_spark.functions.hashing import md5_60bit
    from hadoop_data_lake_spark.functions.vectors import cosine
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    tagged = emb.withColumn(
        "is_test", (md5_60bit(F.col("vec_id").cast("string")) % 10 == 0).cast("int")
    )
    test = tagged.where(F.col("is_test") == 1).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        F.col("label").alias("true_label"),
    )
    train = tagged.where(F.col("is_test") == 0).select(
        F.col("vec_id").alias("tid"), "embedding", F.col("label").alias("nlabel")
    )
    scored = train.crossJoin(F.broadcast(test)).select(
        "qid",
        "true_label",
        "tid",
        "nlabel",
        F.floor(cosine(F.col("embedding"), F.col("qemb")) * 1e6)
        .cast("long")
        .alias("sim_q"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim_q").desc(), F.col("tid").asc())
    top5 = scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 5)
    votes = top5.groupBy("qid", "true_label", "nlabel").agg(
        F.count("*").alias("n_votes"), F.sum("sim_q").alias("sim_sum")
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("sim_sum").desc(), F.col("nlabel").asc()
    )
    pred = votes.withColumn("vr", F.row_number().over(wv)).where(F.col("vr") == 1)
    return pred.groupBy(
        F.col("true_label").alias("true_label"),
        F.col("nlabel").alias("predicted_label"),
    ).agg(F.count("*").alias("n"))


def _knn_sql() -> str:
    h = md5_60bit_sql("vec_id::varchar")
    cos = cosine_sql("t.embedding", "q.qemb")
    return f"""
WITH tagged AS MATERIALIZED (
  SELECT vec_id, embedding, label,
         CASE WHEN {h} % 10 = 0 THEN 1 ELSE 0 END AS is_test
  FROM embeddings
),
test AS (SELECT vec_id AS qid, embedding AS qemb, label AS true_label
         FROM tagged WHERE is_test = 1),
train AS (SELECT vec_id AS tid, embedding, label AS nlabel
          FROM tagged WHERE is_test = 0),
scored AS MATERIALIZED (
  SELECT q.qid, q.true_label, t.tid, t.nlabel,
         floor({cos} * 1e6)::bigint AS sim_q
  FROM train t CROSS JOIN test q
),
top5 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY sim_q DESC, tid ASC) AS rnk
    FROM scored
  ) WHERE rnk <= 5
),
votes AS (
  SELECT qid, true_label, nlabel, count(*) AS n_votes,
         sum(sim_q)::bigint AS sim_sum
  FROM top5 GROUP BY qid, true_label, nlabel
),
pred AS (
  SELECT qid, true_label, nlabel FROM (
    SELECT *, row_number() OVER (
      PARTITION BY qid
      ORDER BY n_votes DESC, sim_sum DESC, nlabel ASC) AS vr
    FROM votes
  ) WHERE vr = 1
)
SELECT true_label, nlabel AS predicted_label, count(*) AS n
FROM pred GROUP BY true_label, nlabel
"""


KNN_LABEL_EVAL_SQL = _knn_sql()


def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores degree/frequency
    (degree = summed length of phrases containing it — rewards words that
    travel in long collocations); a phrase scores the sum of its words'
    scores. Top-15 DISTINCT phrases. Phrase segmentation is a cumulative
    stopword-boundary count over token positions (one window per doc);
    degree/frequency are integer aggregations over the phrase-word table;
    the only float is score = deg/freq summed per phrase as an ORDERED
    fold over word positions. The corpus never self-joins."""
    from pyspark.sql import Window

    from hadoop_data_lake_spark.functions.text import _STOPWORDS

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "w"),
    ).where(F.col("w") != "")
    stop = F.col("w").isin(list(_STOPWORDS))
    wseg = Window.partitionBy("doc_id").orderBy("pos")
    seg = toks.withColumn("is_stop", stop.cast("int")).withColumn(
        "seg", F.sum("is_stop").over(wseg)
    )
    words = seg.where(F.col("is_stop") == 0).localCheckpoint(eager=True)
    phrases = words.groupBy("doc_id", "seg").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
        ).alias("pw")
    ).withColumn("phrase", F.array_join("pw", " ")).withColumn(
        "plen", F.size("pw")
    )
    # word stats over phrase membership: freq = occurrences, deg = sum of
    # the hosting phrase's length per occurrence (classic RAKE).
    pw = phrases.select("phrase", "plen", F.explode("pw").alias("w"))
    wstats = pw.groupBy("w").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("deg")
    )
    scored = (
        pw.join(wstats, "w")
        .withColumn("ws", F.col("deg").cast("double") / F.col("freq").cast("double"))
        .groupBy("phrase")
        .agg(
            F.max("plen").alias("n_words"),
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("w", "ws"))),
                        lambda s: s["ws"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count("*")
                * F.max("plen"),
                6,
            ).alias("score_r"),
        )
    )
    w2 = Window.orderBy(F.col("score_r").desc(), F.col("phrase").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= 15)
        .select("rnk", "phrase", "n_words", "score_r")
    )


def _rake_sql() -> str:
    from hadoop_data_lake_spark.functions.text import _STOPWORDS

    stoplist = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, pos, w
  FROM (
    SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents)
  ) WHERE w <> ''
),
seg AS (
  SELECT doc_id, pos, w,
         CASE WHEN w IN ({stoplist}) THEN 1 ELSE 0 END AS is_stop,
         sum(CASE WHEN w IN ({stoplist}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS seg
  FROM toks
),
phrases AS MATERIALIZED (
  SELECT doc_id, seg, list(w ORDER BY pos) AS pw,
         array_to_string(list(w ORDER BY pos), ' ') AS phrase,
         count(*) AS plen
  FROM seg WHERE is_stop = 0 GROUP BY doc_id, seg
),
pw AS MATERIALIZED (
  SELECT phrase, plen, unnest(pw) AS w FROM phrases
),
wstats AS (
  SELECT w, count(*) AS freq, sum(plen)::bigint AS deg FROM pw GROUP BY w
),
scored AS (
  SELECT p.phrase, max(p.plen) AS n_words,
         round(
           list_reduce(
             list_prepend(0.0::double,
               list(ws.deg::double / ws.freq::double ORDER BY ws.w)),
             (acc, x) -> acc + x)
           / count(*) * max(p.plen), 6) AS score_r
  FROM pw p JOIN wstats ws ON p.w = ws.w
  GROUP BY p.phrase
)
SELECT rnk, phrase, n_words::bigint AS n_words, score_r FROM (
  SELECT *, row_number() OVER (ORDER BY score_r DESC, phrase ASC) AS rnk
  FROM scored
) WHERE rnk <= 15
"""


RAKE_KEYPHRASES_SQL = _rake_sql()


def source_vocab_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift per source: KL(source || corpus) over add-one-
    smoothed unigram distributions — the data-mixing diagnostic that
    flags a source whose token distribution diverges from the blend
    (domain shift, contamination, template spam). Counts are integers
    from one token aggregation; each token's contribution
    p_s * log2(p_s / p_c) is an identical float expression, and the
    per-source sum folds over tokens IN TOKEN ORDER (the ordered-fold
    determinism pattern). Smoothing over the joint vocabulary keeps
    q > 0 everywhere, so KL is finite by construction."""
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select(
        "source", F.explode(TX.tokens(F.col("text"))).alias("t")
    ).where(F.col("t") != "").localCheckpoint(eager=True)
    per_st = toks.groupBy("source", "t").agg(F.count("*").alias("n_st"))
    per_t = per_st.groupBy("t").agg(F.sum("n_st").alias("n_t"))
    per_s = per_st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    totals = per_t.agg(
        F.sum("n_t").alias("n_corpus"), F.count("*").alias("v")
    )
    # joint (source x vocab) grid so unseen tokens smooth to 1/(n_s + V)
    grid = per_s.crossJoin(per_t).join(
        per_st, ["source", "t"], "left"
    ).crossJoin(F.broadcast(totals))
    p_s = (F.coalesce(F.col("n_st"), F.lit(0)) + 1).cast("double") / (
        F.col("n_s") + F.col("v")
    ).cast("double")
    p_c = (F.col("n_t") + 1).cast("double") / (
        F.col("n_corpus") + F.col("v")
    ).cast("double")
    contrib = p_s * F.log2(p_s / p_c)
    folded = grid.select("source", "t", contrib.alias("c")).groupBy("source").agg(
        F.count("*").alias("v_terms"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("t", "c"))),
                    lambda s: s["c"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("kl_bits_r"),
    )
    return folded


SOURCE_VOCAB_KL_SQL = """
WITH toks AS MATERIALIZED (
  SELECT source, tok AS t
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
),
per_st AS MATERIALIZED (
  SELECT source, t, count(*) AS n_st FROM toks GROUP BY source, t
),
per_t AS (SELECT t, sum(n_st)::bigint AS n_t FROM per_st GROUP BY t),
per_s AS (SELECT source, sum(n_st)::bigint AS n_s FROM per_st GROUP BY source),
totals AS (SELECT sum(n_t)::bigint AS n_corpus, count(*) AS v FROM per_t),
grid AS (
  SELECT s.source, tt.t, s.n_s, tt.n_t, st.n_st
  FROM per_s s CROSS JOIN per_t tt
  LEFT JOIN per_st st ON st.source = s.source AND st.t = tt.t
),
contribs AS (
  SELECT source, t,
         ((coalesce(n_st, 0) + 1)::double / (n_s + (SELECT v FROM totals))::double)
         * log2(((coalesce(n_st, 0) + 1)::double / (n_s + (SELECT v FROM totals))::double)
                / ((n_t + 1)::double
                   / ((SELECT n_corpus FROM totals) + (SELECT v FROM totals))::double))
         AS c
  FROM grid
)
SELECT source, count(*) AS v_terms,
       round(list_reduce(list_prepend(0.0::double, list(c ORDER BY t)),
                         (acc, x) -> acc + x), 6) AS kl_bits_r
FROM contribs GROUP BY source
"""


def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud by INTEGER-EXACT
    distributed PCA: elements quantize to micro-units, the centered
    scatter matrix comes from the identity n*S - s*s^T over exact bigint
    moments (one self-join of the exploded elements — the distributed
    Gram computation), and 8 power-iteration steps run as integer
    mat-vecs with truncating renormalization (max|v| held at 1e6). Every
    quantity is an integer end to end, so the DuckDB oracle replays the
    full iteration unrolled — eigen-analysis under the correctness gate,
    where float BLAS never can be. Direction parity with numpy's
    eigensolver is pytest-checked (|cos| > 0.99); magnitudes of the
    bigint moments bound the corpus at ~100k vectors before hugeint
    widening (documented, not needed at bench scale).

    With this corpus's near-isotropic spectrum (eigengap l2/l1 ~ 0.93)
    8 iterations cannot single out one eigenvector — no bounded method
    can; the pytest contract is therefore (a) exact convergence on a
    planted dominant direction and (b) a Rayleigh-quotient bound on the
    real corpus, while the ORACLE proves the iterate replays exactly.

    Output: (dim, loading) with loading the integer iterate, max-|.|
    normalized to 1e6 — the replayable fingerprint of the component."""
    from hadoop_data_lake_spark.operators.similarity import pca_power_iterate

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return pca_power_iterate(emb, dim=64, iters=8)


def _pca_sql(iters: int = 8) -> str:
    parts = [
        """
WITH q AS MATERIALIZED (
  SELECT vec_id, i - 1 AS i, floor(x::double * 1e6)::bigint AS qx
  FROM (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           unnest(embedding) AS x
    FROM embeddings
  )
),
nf AS MATERIALIZED (SELECT (count(*) // 64)::bigint AS n FROM q),
s AS MATERIALIZED (SELECT i, sum(qx)::bigint AS si FROM q GROUP BY i),
smat AS MATERIALIZED (
  -- hugeint moments mirror Spark's dprod/decimal(38,0) widening: the old
  -- bigint product wrapped at ~3e3 unit-norm vectors (VERDICT r7 item 4)
  SELECT l.i AS li, r.i AS rj, sum(l.qx::hugeint * r.qx::hugeint) AS sij
  FROM q l JOIN q r ON l.vec_id = r.vec_id
  GROUP BY l.i, r.i
),
cov AS MATERIALIZED (
  SELECT m.li, m.rj,
         ((SELECT n FROM nf)::hugeint * m.sij
          - sl.si::hugeint * sr.si::hugeint) AS c
  FROM smat m
  JOIN s sl ON m.li = sl.i
  JOIN s sr ON m.rj = sr.i
),
shf AS MATERIALIZED (
  -- decimal digit length of max|c|: exact power-of-10 normalization,
  -- replayable for hugeint where bin() bit-length only existed for bigint
  SELECT greatest(length(max(abs(c))::varchar) - 9, 0) AS dk FROM cov
),
a AS MATERIALIZED (
  SELECT li, rj,
         ((CASE WHEN c < 0 THEN -1 ELSE 1 END)
          * (abs(c) // ('1' || repeat('0', (SELECT dk FROM shf)))::hugeint)
         )::bigint AS a
  FROM cov
),
v0 AS MATERIALIZED (
  SELECT DISTINCT rj AS j, 1000000::bigint AS v FROM a
)"""
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f""",
u{k} AS MATERIALIZED (
  SELECT a.li, sum(a.a * v.v)::bigint AS u
  FROM a JOIN v{p} v ON a.rj = v.j GROUP BY a.li
),
vm{k} AS MATERIALIZED (SELECT max(abs(u))::bigint AS vm FROM u{k}),
v{k} AS MATERIALIZED (
  SELECT li AS j,
         (CASE WHEN u < 0 THEN -1 ELSE 1 END)
         * (abs(u) // (((SELECT vm FROM vm{k}) // 1000000) + 1)) AS v
  FROM u{k}
)"""
        )
    parts.append(f"\nSELECT j AS dim, v AS loading FROM v{iters}")
    return "".join(parts)


PCA_TOP_COMPONENT_SQL = _pca_sql()


def token_npmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation discovery: top-20 adjacent token pairs by normalized
    PMI, npmi = pmi / -log2(p_ab) — the measure that doesn't over-reward
    rare pairs the way raw PMI does. All probabilities are ratios of
    integer counts from ONE bigram aggregation (unigram counts
    re-aggregate the bigram model, the doc_lm pattern); min support 5
    keeps degenerate one-off pairs out. One rounded expression per pair,
    rank ties on the pair text."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select("text")
    w = F.split(F.col("text"), " ")
    base = docs.select(w.alias("w"), F.size(w).alias("n")).where(F.col("n") >= 2)
    bg = base.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("w"), 1, F.col("n") - 1),
                F.slice(F.col("w"), 2, F.col("n") - 1),
                lambda a, b: F.struct(a.alias("wa"), b.alias("wb")),
            )
        ).alias("p")
    ).select(F.col("p.wa").alias("wa"), F.col("p.wb").alias("wb")).where(
        (F.col("wa") != "") & (F.col("wb") != "")
    )
    model = bg.groupBy("wa", "wb").agg(F.count("*").alias("c_ab")).localCheckpoint(
        eager=True
    )
    left = model.groupBy("wa").agg(F.sum("c_ab").alias("c_a"))
    right = model.groupBy("wb").agg(F.sum("c_ab").alias("c_b"))
    total = model.agg(F.sum("c_ab").alias("n_tot"))
    scored = (
        model.where(F.col("c_ab") >= 5)
        .join(left, "wa")
        .join(right, "wb")
        .crossJoin(F.broadcast(total))
    )
    p_ab = F.col("c_ab").cast("double") / F.col("n_tot").cast("double")
    pmi = F.log2(
        F.col("n_tot").cast("double")
        * F.col("c_ab").cast("double")
        / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
    )
    npmi = pmi / -F.log2(p_ab)
    wr = Window.orderBy(
        F.round(npmi, 6).desc(), F.col("wa").asc(), F.col("wb").asc()
    )
    return (
        scored.withColumn("npmi_r", F.round(npmi, 6))
        .withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 20)
        .select("rnk", "wa", "wb", "c_ab", "npmi_r")
    )


TOKEN_NPMI_PAIRS_SQL = """
WITH base AS (
  SELECT string_split(text, ' ') AS w FROM documents
),
bg AS (
  SELECT split_part(b, chr(1), 1) AS wa, split_part(b, chr(1), 2) AS wb
  FROM (
    SELECT unnest(list_transform(range(1, len(w)),
                  i -> w[i] || chr(1) || w[i + 1])) AS b
    FROM base WHERE len(w) >= 2
  )
  WHERE split_part(b, chr(1), 1) <> '' AND split_part(b, chr(1), 2) <> ''
),
model AS MATERIALIZED (
  SELECT wa, wb, count(*) AS c_ab FROM bg GROUP BY wa, wb
),
l AS (SELECT wa, sum(c_ab)::bigint AS c_a FROM model GROUP BY wa),
r AS (SELECT wb, sum(c_ab)::bigint AS c_b FROM model GROUP BY wb),
tot AS (SELECT sum(c_ab)::bigint AS n_tot FROM model),
scored AS (
  SELECT m.wa, m.wb, m.c_ab,
         round(
           log2(tot.n_tot::double * m.c_ab::double / (l.c_a::double * r.c_b::double))
           / -log2(m.c_ab::double / tot.n_tot::double), 6) AS npmi_r
  FROM model m JOIN l ON m.wa = l.wa JOIN r ON m.wb = r.wb CROSS JOIN tot
  WHERE m.c_ab >= 5
)
SELECT rnk, wa, wb, c_ab, npmi_r FROM (
  SELECT *, row_number() OVER (ORDER BY npmi_r DESC, wa ASC, wb ASC) AS rnk
  FROM scored
) WHERE rnk <= 20
"""


def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health diagnostic: fit log(freq) = a - s * log(rank) over
    the top-200 tokens — natural corpora sit near Zipf s = 1; template
    spam and synthetic filler bend the slope. Ranks and frequencies are
    integers; the OLS moments over (log rank, log freq) pairs fold IN
    RANK ORDER (the ordered-fold pattern), so the fitted slope replays
    bit-for-bit. One token aggregation + a 200-row fold."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("t")).where(
        F.col("t") != ""
    )
    freq = toks.groupBy("t").agg(F.count("*").alias("f"))
    w = Window.orderBy(F.col("f").desc(), F.col("t").asc())
    top = freq.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 200
    )
    pairs = top.select(
        "rank",
        F.log(F.col("rank").cast("double")).alias("lx"),
        F.log(F.col("f").cast("double")).alias("ly"),
    )
    # ordered folds for every moment that sums floats
    def fold(expr_col: str) -> "F.Column":
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", F.col(expr_col).alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    mom = pairs.select(
        "rank", "lx", "ly", (F.col("lx") * F.col("ly")).alias("lxy"),
        (F.col("lx") * F.col("lx")).alias("lxx"),
    ).agg(
        F.count("*").alias("n"),
        fold("lx").alias("sx"),
        fold("ly").alias("sy"),
        fold("lxy").alias("sxy"),
        fold("lxx").alias("sxx"),
    )
    n = F.col("n").cast("double")
    # nullif guards (r9 empty-corpus axis): an empty/single-token corpus
    # has zero x-variance (slope undefined) and n = 0 zeroes the
    # intercept divisor — NULL, not an ANSI divide-by-zero
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        n * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return mom.select(
        F.col("n").alias("n_tokens"),
        F.round(-slope, 6).alias("zipf_s_r"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.nullif(n, F.lit(0.0)), 6
        ).alias("log_c_r"),
    )


ZIPF_FIT_TOKENS_SQL = """
WITH toks AS (
  SELECT tok AS t
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
),
freq AS (SELECT t, count(*) AS f FROM toks GROUP BY t),
top AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, t ASC) AS rank
  FROM freq QUALIFY rank <= 200
),
pairs AS (
  SELECT rank, ln(rank::double) AS lx, ln(f::double) AS ly FROM top
),
mom AS (
  SELECT count(*) AS n,
         list_reduce(list_prepend(0.0::double, list(lx ORDER BY rank)), (a, x) -> a + x) AS sx,
         list_reduce(list_prepend(0.0::double, list(ly ORDER BY rank)), (a, x) -> a + x) AS sy,
         list_reduce(list_prepend(0.0::double, list(lx * ly ORDER BY rank)), (a, x) -> a + x) AS sxy,
         list_reduce(list_prepend(0.0::double, list(lx * lx ORDER BY rank)), (a, x) -> a + x) AS sxx
  FROM pairs
)
SELECT n AS n_tokens,
       round(-((n::double * sxy - sx * sy) / nullif(n::double * sxx - sx * sx, 0.0)), 6) AS zipf_s_r,
       round((sy - ((n::double * sxy - sx * sy) / nullif(n::double * sxx - sx * sx, 0.0)) * sx)
             / nullif(n::double, 0.0), 6) AS log_c_r
FROM mom
"""


def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus redundancy profile: distinct-to-total n-gram ratio for
    n = 1..4 — near 1 means almost every n-gram is unique (high-entropy
    text), low values flag template/boilerplate corpora before they
    poison training. One explode per n over the token arrays; counts are
    integers, one rounded ratio per row."""
    docs = read_table(spark, sf_dir, "documents").select("text")
    w = F.split(F.col("text"), " ")
    base = docs.select(w.alias("w"), F.size(w).alias("nw"))

    # ONE corpus pass for all four gram lengths (r9 scan-multiplicity
    # audit: the old per-n union re-scanned documents 4x): every doc
    # emits its (n, gram) pairs for n = 1..4 in one flattened explode —
    # a doc shorter than n contributes nothing for that n (the old
    # where(nw >= n) guard, expressed as an empty per-n array; never
    # F.sequence with stop < start, which generates DESCENDING).
    def grams_for(n: int):
        return F.when(
            F.col("nw") >= n,
            F.transform(
                F.sequence(F.lit(1), F.col("nw") - n + 1),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(
                        " ",
                        *[F.element_at("w", (i + j).cast("int")) for j in range(n)],
                    ).alias("g"),
                ),
            ),
        ).otherwise(F.array())

    tagged = base.select(
        F.explode(
            F.flatten(F.array(*[grams_for(n) for n in range(1, 5)]))
        ).alias("p")
    ).select(F.col("p.n").alias("n"), F.col("p.g").alias("g"))
    out = tagged.groupBy("n").agg(
        F.count("*").alias("total"),
        F.countDistinct("g").alias("distinct_"),
    )
    return out.select(
        "n",
        "total",
        F.col("distinct_").alias("n_distinct"),
        # nullif: an empty corpus has no n-grams — novelty is undefined
        # (NULL), not an ANSI divide-by-zero (r9 empty-corpus axis)
        F.round(
            F.col("distinct_").cast("double")
            / F.nullif(F.col("total").cast("double"), F.lit(0.0)),
            6,
        ).alias("novelty_r"),
    )


def _novelty_sql() -> str:
    parts = []
    for n in range(1, 5):
        gram = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
        parts.append(
            f"""
SELECT {n} AS n, count(*) AS total, count(DISTINCT g) AS n_distinct,
       round(count(DISTINCT g)::double / nullif(count(*)::double, 0.0), 6) AS novelty_r
FROM (
  SELECT unnest(list_transform(range(1, len(w) - {n} + 2), i -> {gram})) AS g
  FROM (SELECT string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= {n}
)"""
        )
    return " UNION ALL ".join(parts)


NGRAM_NOVELTY_CURVE_SQL = _novelty_sql()


# --------------------------------------------------------------------------
# SemDeDup: cluster-bounded semantic dedup (Abbas et al. 2023)
# --------------------------------------------------------------------------

def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (operators/similarity.py::
    semdedup_prune): deterministic md5-medoid centroids, max-cosine
    assignment, then within-cluster drop of semantic duplicates keeping
    the lowest-centroid-similarity representative. Full DuckDB oracle —
    the centroid choice, assignment argmax, and keep-rule are all
    portable-hash / rounded-cosine replayable."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SIM.semdedup_prune(emb, num_clusters=8, threshold=0.95)


SEMDEDUP_PRUNE_SQL = f"""
WITH cent AS (
  SELECT vec_id AS cluster_id, embedding AS c_vec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 8
),
scored AS (
  SELECT e.vec_id, c.cluster_id,
         round({cosine_sql('e.embedding', 'c.c_vec')}, 6) AS sim_r
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cluster_id, sim_r AS cent_sim_r FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY sim_r DESC, cluster_id) AS rn
    FROM scored) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a
  JOIN assigned b ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE round({cosine_sql('ea.embedding', 'eb.embedding')}, 6) >= 0.95
    AND (b.cent_sim_r < a.cent_sim_r
         OR (b.cent_sim_r = a.cent_sim_r AND b.vec_id < a.vec_id))
)
SELECT a.vec_id, a.cluster_id, a.cent_sim_r,
       (d.vec_id IS NULL) AS keep
FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


# --------------------------------------------------------------------------
# Perceptual-hash (dHash) multimodal near-dup
# --------------------------------------------------------------------------

def media_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash near-dup over media blobs (operators/multimodal.py::
    perceptual_hash + phash_near_dup_pairs). The corpus has no duplicate
    texts, so the query PLANTS length-preserving near-dup blobs (every
    50th doc re-ingested with its first byte replaced by 'z', id offset
    +10M) — a byte-local edit moves at most one segment sum, so each
    planted copy sits within hamming 2 of its original while unrelated
    blobs are ~30 bits apart. Banding is pigeonhole-complete at
    max_hamming=3 < chunks=4, so the banded Spark output equals the
    oracle's exact all-pairs scan."""
    docs = read_table(spark, sf_dir, "documents")
    planted = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("z"), F.expr("substring(text, 2)")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    media = synth_media_from_text(corpus, "doc_id", "text")
    # checkpoint the per-doc 64-bit hashes (r9 scan-multiplicity audit):
    # the banded self-join's sides each re-ran the synth + hash pipeline
    # otherwise (4 documents scans per run; now 2 — base + planted)
    hashed = perceptual_hash(media).localCheckpoint(eager=True)
    return phash_near_dup_pairs(hashed, max_hamming=3, chunks=4)


MEDIA_PHASH_NEAR_DUP_SQL = """
WITH corpus AS (
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000, 'z' || substr(text, 2)
  FROM documents WHERE doc_id % 50 = 0
),
d AS (SELECT media_id, text, octet_length(encode(text)) AS L FROM corpus),
seg AS (
  SELECT media_id, k,
         coalesce(list_sum(list_transform(
           range((k * L) // 61 + 1, ((k + 1) * L) // 61 + 1),
           i -> ord(substr(text, i, 1)))), 0)::bigint AS s
  FROM (SELECT media_id, text, L, unnest(range(0, 61)) AS k FROM d)
),
ph AS MATERIALIZED (
  SELECT a.media_id,
         sum(CASE WHEN a.s > b.s THEN (1::bigint << (59 - a.k))
                  ELSE 0::bigint END)::bigint AS phash
  FROM seg a JOIN seg b ON a.media_id = b.media_id AND b.k = a.k + 1
  WHERE a.k < 60
  GROUP BY a.media_id
)
SELECT x.media_id AS id_a, y.media_id AS id_b,
       bit_count(xor(x.phash, y.phash))::int AS hamming
FROM ph x JOIN ph y ON x.media_id < y.media_id
WHERE bit_count(xor(x.phash, y.phash)) <= 3
"""


def decontaminate_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination: training vectors whose cosine to a
    held-out probe (benchmark) vector reaches 0.9 — the semantic stage that
    catches reworded contamination both exact n-gram overlap and lexical
    minhash miss. The corpus has no natural pairs above 0.7, so the query
    PLANTS leaked benchmarks: every 50th vector re-enters as a probe
    (id + 10M) with +0.3 on its first coordinate — cosine ~0.93-0.96 to
    its source (unit-norm 64-dim corpus), cleanly above the 0.9 gate while
    every unrelated pair stays below 0.7. Returns each contaminated vector
    with its best probe (argmax of 6 dp-rounded cosine, probe-id
    tie-break).

    100 TB shape: the probe (benchmark) side is tiny and broadcast; the
    training corpus is scanned once and never shuffles; the per-vector
    top-1 is a WindowGroupLimit over the already-thresholded hits."""
    from hadoop_data_lake_spark.functions.vectors import norm
    from hadoop_data_lake_spark.operators.windows import topk_per_group

    emb = read_table(spark, sf_dir, "embeddings")
    c = SIM._side(emb, "vec_id", "embedding", "q", id_as="vec_id")
    pv = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == 0, x.cast("double") + F.lit(0.3)).otherwise(
            x.cast("double")
        ),
    )
    p = (
        emb.where(F.col("vec_id") % 50 == 0)
        .select((F.col("vec_id") + 10_000_000).alias("probe_id"), pv.alias("c_vec"))
        .withColumn("norm_c", norm(F.col("c_vec")))
    )
    hits = (
        c.crossJoin(F.broadcast(p))
        .withColumn("sim_r", SIM._paired_cosine())
        .where(F.col("sim_r") >= 0.9)
    )
    return topk_per_group(
        hits,
        ["vec_id"],
        [F.col("sim_r").desc(), F.col("probe_id").asc()],
        k=1,
    ).select("vec_id", "probe_id", "sim_r")


DECONTAMINATE_EMBEDDING_COSINE_SQL = f"""
WITH p AS (
  SELECT vec_id + 10000000 AS probe_id,
         list_transform(range(1, len(embedding) + 1),
           i -> CASE WHEN i = 1 THEN embedding[i]::double + 0.3
                     ELSE embedding[i]::double END) AS pv
  FROM embeddings WHERE vec_id % 50 = 0
),
hits AS (
  SELECT c.vec_id, p.probe_id,
         round({cosine_sql('c.embedding', 'p.pv')}, 6) AS sim_r
  FROM embeddings c CROSS JOIN p
),
best AS (
  SELECT vec_id, probe_id, sim_r,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim_r DESC, probe_id) AS rn
  FROM hits WHERE sim_r >= 0.9
)
SELECT vec_id, probe_id, sim_r FROM best WHERE rn = 1
"""


def cluster_safe_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: near-dup CLUSTERS (minhash pairs →
    connected components) are assigned to a side atomically by the md5 of
    the cluster representative, so no near-dup pair ever straddles the
    split — the group-aware split every serious eval pipeline needs.
    Contrasted in the same output with the NAIVE per-doc hash split, whose
    leaked-pair count is the measurable damage (near-dups of training docs
    landing in test). Output: (split_kind, n_train, n_test, leaked_pairs).

    100 TB shape: pairs come from the banded minhash path (no all-pairs);
    components from the O(log n) large-star/small-star loop; the audit
    joins are doc-sized hash joins. pairs/sides frames are
    localCheckpoint-ed so the minhash pipeline is not re-executed per
    branch.

    Driver tier: when the CC union-find tier fires, the component labels
    AND the pair list are already on the driver from its one collect —
    the per-pair leak counts fold into the same pass (Python md5 replays
    Spark's md5(cast(id as string)) byte-for-byte: the ids are gated to
    one shared integral/string type, where str(int) == Spark's
    long->string cast and UTF-8 encoding matches), so the leak joins
    (pairs x sides x sides) and the second read of `sides` disappear. The cluster-side count stays a provable
    invariant either way (a pair's endpoints share a component, so
    side_cluster(rep(a)) == side_cluster(rep(b)) — computed honestly in
    both paths, never assumed). Over the cap or on unorderable id types
    the distributed audit below runs unchanged."""
    from hadoop_data_lake_spark.operators import graph as G

    docs = read_table(spark, sf_dir, "documents")
    raw = (
        DD.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=16, bands=4, threshold=0.3
        )
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .localCheckpoint(eager=True)
    )

    def side_of(col):
        return F.when(
            F.substring(F.md5(col.cast("string")), 1, 1).isin("0", "1", "2"),
            F.lit("test"),
        ).otherwise(F.lit("train"))

    tier = G._cc_driver_labels(raw, return_edges=True)
    if tier is not None:
        import hashlib

        import pandas as pd
        from pyspark.sql.types import LongType, StructField, StructType

        labels, edges = tier

        def py_side(x) -> str:
            h = hashlib.md5(str(x).encode("utf-8")).hexdigest()
            return "test" if h[0] in "012" else "train"

        leak_c = sum(
            1 for r in edges if py_side(labels[r[0]]) != py_side(labels[r[1]])
        )
        leak_n = sum(1 for r in edges if py_side(r[0]) != py_side(r[1]))
        ut = raw.schema["u"].dataType
        comp = local_frame(
            spark,
            pd.DataFrame(
                {"doc_id": list(labels), "cluster_rep": list(labels.values())}
            ),
            StructType(
                [StructField("doc_id", ut), StructField("cluster_rep", ut)]
            ),
        )
        leaks = local_frame(
            spark,
            [(leak_c, leak_n)],
            StructType(
                [
                    StructField("leak_c", LongType()),
                    StructField("leak_n", LongType()),
                ]
            ),
        )
        # sides is consumed ONCE here (the counts aggregate) — no
        # checkpoint needed in this branch.
        sides = (
            docs.select("doc_id")
            .join(comp, "doc_id", "left")
            .withColumn("rep", F.coalesce("cluster_rep", "doc_id"))
            .select(
                "doc_id",
                side_of(F.col("rep")).alias("side_cluster"),
                side_of(F.col("doc_id")).alias("side_naive"),
            )
        )
    else:
        # distributed audit: CC star loop on the same checkpoint (no
        # re-checkpoint — the _cc_distributed entry), sides checkpointed
        # because counts AND both leak-join reads consume it.
        comp = G._cc_distributed(raw, max_iter=20, strict=True).select(
            F.col("vertex").alias("doc_id"),
            F.col("component").alias("cluster_rep"),
        )
        sides = (
            docs.select("doc_id")
            .join(comp, "doc_id", "left")
            .withColumn("rep", F.coalesce("cluster_rep", "doc_id"))
            .select(
                "doc_id",
                side_of(F.col("rep")).alias("side_cluster"),
                side_of(F.col("doc_id")).alias("side_naive"),
            )
            .localCheckpoint(eager=False)
        )
        sa = sides.select(
            F.col("doc_id").alias("doc_a"),
            F.col("side_cluster").alias("ca"),
            F.col("side_naive").alias("na"),
        )
        sb = sides.select(
            F.col("doc_id").alias("doc_b"),
            F.col("side_cluster").alias("cb"),
            F.col("side_naive").alias("nb"),
        )
        leaks = (
            raw.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
            .join(sa, "doc_a")
            .join(sb, "doc_b")
            .agg(
                F.coalesce(
                    F.count(F.when(F.col("ca") != F.col("cb"), 1)), F.lit(0)
                ).alias("leak_c"),
                F.coalesce(
                    F.count(F.when(F.col("na") != F.col("nb"), 1)), F.lit(0)
                ).alias("leak_n"),
            )
        )
    counts = sides.agg(
        F.count(F.when(F.col("side_cluster") == "train", 1)).alias("tr_c"),
        F.count(F.when(F.col("side_cluster") == "test", 1)).alias("te_c"),
        F.count(F.when(F.col("side_naive") == "train", 1)).alias("tr_n"),
        F.count(F.when(F.col("side_naive") == "test", 1)).alias("te_n"),
    )
    # both output rows come from ONE counts x leaks row: a union of two
    # selects would plan the documents scan, comp join and aggregate twice
    def row(kind, tr, te, leak):
        return F.struct(
            F.lit(kind).alias("split_kind"),
            F.col(tr).alias("n_train"),
            F.col(te).alias("n_test"),
            F.col(leak).alias("leaked_pairs"),
        )

    return counts.crossJoin(leaks).select(
        F.inline(
            F.array(
                row("cluster_aware", "tr_c", "te_c", "leak_c"),
                row("naive_hash", "tr_n", "te_n", "leak_n"),
            )
        )
    )


CLUSTER_SAFE_SPLIT_AUDIT_SQL = f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
edges2 AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(v, r) AS (
  SELECT a, a FROM edges2
  UNION
  SELECT e.a, w.r FROM edges2 e JOIN walk w ON e.b = w.v
),
comp AS (SELECT v, min(r) AS rep FROM walk GROUP BY v),
sides AS MATERIALIZED (
  SELECT d.doc_id,
         CASE WHEN substr(md5(CAST(coalesce(c.rep, d.doc_id) AS VARCHAR)), 1, 1)
                   IN ('0', '1', '2') THEN 'test' ELSE 'train' END AS side_cluster,
         CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
                   IN ('0', '1', '2') THEN 'test' ELSE 'train' END AS side_naive
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.v
),
counts AS (
  SELECT
    (count(*) FILTER (WHERE side_cluster = 'train'))::bigint AS tr_c,
    (count(*) FILTER (WHERE side_cluster = 'test'))::bigint AS te_c,
    (count(*) FILTER (WHERE side_naive = 'train'))::bigint AS tr_n,
    (count(*) FILTER (WHERE side_naive = 'test'))::bigint AS te_n
  FROM sides
),
leaks AS (
  SELECT
    (count(*) FILTER (WHERE sa.side_cluster <> sb.side_cluster))::bigint AS leak_c,
    (count(*) FILTER (WHERE sa.side_naive <> sb.side_naive))::bigint AS leak_n
  FROM pairs p
  JOIN sides sa ON p.doc_a = sa.doc_id
  JOIN sides sb ON p.doc_b = sb.doc_id
)
SELECT 'cluster_aware' AS split_kind, tr_c AS n_train, te_c AS n_test,
       leak_c AS leaked_pairs
FROM counts, leaks
UNION ALL
SELECT 'naive_hash', tr_n, te_n, leak_n FROM counts, leaks
"""


def token_lang_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 language-indicative tokens by mutual-information contribution
    I_t = sum_l p(t,l) * log2( p(t,l) / (p(t) p(l)) ) — the classic MI
    feature-selection score, here as a corpus diagnostic: which tokens
    carry the language signal (and would leak it through a "language-
    blind" model). All counts are exact integers from ONE token
    aggregation pivoted over the fixed language list; the per-token score
    is a single closed-form double expression summing the five language
    terms in fixed order (de,en,es,fr,zh — the ordered-fold determinism
    pattern), so an external engine replays it bit-for-bit. Ranking uses
    the ROUNDED score (rank-on-rounded gotcha) with token tie-break.

    The MI is defined OVER the fixed 5-language domain: documents with
    any other lang value are filtered out up front (and the oracle's
    marginal CTE applies the same ``lang IN`` filter), so Spark and
    oracle stay equivalent by construction rather than by a data-domain
    accident (r11 advice: the pivot silently dropped unknown langs from
    n_total while the oracle counted them).

    100 TB shape: one explode + one count shuffle on (token, lang); the
    language marginals are a 5-row broadcast; top-20 is a TakeOrdered,
    never a global sort materialization."""
    langs = ["de", "en", "es", "fr", "zh"]
    docs = read_table(spark, sf_dir, "documents")
    # aggregate-first (r11): the language marginals are column sums of the
    # vocab-bounded pivot table, so the corpus is exploded ONCE (was 2x)
    tl = (
        docs.filter(F.col("lang").isin(langs))
        .select("lang", F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .pivot("lang", langs)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .localCheckpoint(eager=True)
    )
    marg = tl.groupBy().agg(
        sum(F.sum(lg) for lg in langs).alias("n_total"),
        *[F.sum(lg).alias(f"m_{lg}") for lg in langs],
    )
    t = tl.crossJoin(F.broadcast(marg))
    c_t = sum(F.col(lg) for lg in langs)
    t = t.withColumn("c_tok", c_t.cast("long"))

    def term(lg: str):
        ctl = F.col(lg).cast("double")
        return F.when(
            F.col(lg) > 0,
            (ctl / F.col("n_total"))
            * F.log2(
                (ctl * F.col("n_total"))
                / (F.col("c_tok").cast("double") * F.col(f"m_{lg}"))
            ),
        ).otherwise(F.lit(0.0))

    mi = term(langs[0])
    for lg in langs[1:]:
        mi = mi + term(lg)
    best = F.greatest(
        *[
            F.struct(F.col(lg).alias("c"), F.lit(lg).alias("lg"))
            for lg in langs
        ]
    )
    out = t.select(
        "token",
        F.round(mi, 6).alias("mi_r"),
        F.col("c_tok").alias("n_occurrences"),
        best["lg"].alias("top_lang"),
    )
    return out.orderBy(F.col("mi_r").desc(), F.col("token").asc()).limit(20)


TOKEN_LANG_MI_SQL = """
WITH tl AS (
  SELECT token,
         count(*) FILTER (WHERE lang = 'de')::bigint AS de,
         count(*) FILTER (WHERE lang = 'en')::bigint AS en,
         count(*) FILTER (WHERE lang = 'es')::bigint AS es,
         count(*) FILTER (WHERE lang = 'fr')::bigint AS fr,
         count(*) FILTER (WHERE lang = 'zh')::bigint AS zh
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
        WHERE lang IN ('de', 'en', 'es', 'fr', 'zh'))
  GROUP BY token
),
marg AS (
  SELECT count(*)::bigint AS n_total,
         count(*) FILTER (WHERE lang = 'de')::bigint AS m_de,
         count(*) FILTER (WHERE lang = 'en')::bigint AS m_en,
         count(*) FILTER (WHERE lang = 'es')::bigint AS m_es,
         count(*) FILTER (WHERE lang = 'fr')::bigint AS m_fr,
         count(*) FILTER (WHERE lang = 'zh')::bigint AS m_zh
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
        WHERE lang IN ('de', 'en', 'es', 'fr', 'zh'))
),
scored AS (
  SELECT token,
         (de + en + es + fr + zh) AS c_tok,
         round(
           (CASE WHEN de > 0 THEN (de::double / n_total) * log2((de::double * n_total) / ((de + en + es + fr + zh)::double * m_de)) ELSE 0.0 END)
         + (CASE WHEN en > 0 THEN (en::double / n_total) * log2((en::double * n_total) / ((de + en + es + fr + zh)::double * m_en)) ELSE 0.0 END)
         + (CASE WHEN es > 0 THEN (es::double / n_total) * log2((es::double * n_total) / ((de + en + es + fr + zh)::double * m_es)) ELSE 0.0 END)
         + (CASE WHEN fr > 0 THEN (fr::double / n_total) * log2((fr::double * n_total) / ((de + en + es + fr + zh)::double * m_fr)) ELSE 0.0 END)
         + (CASE WHEN zh > 0 THEN (zh::double / n_total) * log2((zh::double * n_total) / ((de + en + es + fr + zh)::double * m_zh)) ELSE 0.0 END)
         , 6) AS mi_r,
         CASE WHEN zh = greatest(de, en, es, fr, zh) THEN 'zh'
              WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
              WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
              WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
              ELSE 'de' END AS top_lang
  FROM tl CROSS JOIN marg
)
SELECT token, mi_r, c_tok AS n_occurrences, top_lang
FROM scored
ORDER BY mi_r DESC, token ASC
LIMIT 20
"""


def length_bias_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-bias audit: exact ROC-AUC of document LENGTH as a predictor
    of lang = 'en' — quantifies the length/language confound that makes
    naive length-based quality filters shift the language mix. AUC is the
    Mann-Whitney rank-sum with full tie correction, kept INTEGER to the
    end: per distinct length, num2 += n_pos(s) * (2 * cum_n_neg_below(s)
    + n_neg(s)); AUC = num2 / (2 * N_pos * N_neg) — one closed-form
    double + round (the deterministic-estimate pattern). 0.5 = no
    confound; the distance from 0.5 is the bias a length filter inherits.

    100 TB shape: one count shuffle on the score key, one window over the
    (tiny) distinct-score frame, one scalar aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            F.col("n_chars"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy("n_chars")
        .agg(
            F.sum("pos").alias("n1"),
            F.sum(1 - F.col("pos")).alias("n0"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    )
    per = per.withColumn(
        "cum0", F.coalesce(F.sum("n0").over(w), F.lit(0))
    )
    return per.agg(
        F.sum("n1").cast("long").alias("n_pos"),
        F.sum("n0").cast("long").alias("n_neg"),
        F.round(
            # dprod: n1 * cum0 in long wraps once positives-per-length x
            # negatives-below pass ~9.2e18 — inside 100 TB corpus sizes.
            F.sum(dprod(F.col("n1"), 2 * F.col("cum0") + F.col("n0")))
            .cast("double")
            # nullif: AUC is undefined without BOTH classes present —
            # NULL, not an ANSI divide-by-zero (r8 degenerate sweep)
            / F.nullif(2.0 * F.sum("n1") * F.sum("n0"), F.lit(0.0)),
            6,
        ).alias("auc_r"),
    )


LENGTH_BIAS_AUC_SQL = """
WITH per AS (
  SELECT n_chars,
         (count(*) FILTER (WHERE lang = 'en'))::bigint AS n1,
         (count(*) FILTER (WHERE lang <> 'en'))::bigint AS n0
  FROM documents
  GROUP BY n_chars
),
c AS (
  SELECT n_chars, n1, n0,
         coalesce(sum(n0) OVER (ORDER BY n_chars
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::bigint AS cum0
  FROM per
)
SELECT sum(n1)::bigint AS n_pos,
       sum(n0)::bigint AS n_neg,
       round(sum(n1::hugeint * (2 * cum0 + n0)::hugeint)::double
             / nullif(2.0 * sum(n1) * sum(n0), 0.0), 6) AS auc_r
FROM c
"""


def token_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-repetition detector: per document, the longest CONSECUTIVE
    run of one repeated token (the inference-loop / keyboard-mash signal
    that complements Gopher's duplicate-2-gram ratio, which misses long
    single-token runs inside otherwise-diverse text). Classic
    gaps-and-islands: token position minus per-token rank is constant
    within a run; one groupBy counts each island, a per-doc argmax picks
    (longest, token asc, earliest) deterministically. Output flags
    max_run >= 3 as degenerate.

    100 TB shape: one explode + two shuffles on doc_id (island count,
    per-doc top-1 WindowGroupLimit); no self-joins."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id", "token").orderBy("pos")
    islands = (
        toks.withColumn("isl", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "token", "isl")
        .agg(F.count("*").alias("run"), F.min("pos").alias("start_pos"))
    )
    from hadoop_data_lake_spark.operators.windows import topk_per_group

    best = topk_per_group(
        islands,
        ["doc_id"],
        [F.col("run").desc(), F.col("token").asc(), F.col("start_pos").asc()],
        k=1,
    )
    return best.select(
        "doc_id",
        F.col("token").alias("run_token"),
        F.col("run").cast("long").alias("max_run"),
        (F.col("run") >= 3).alias("is_degenerate"),
    )


TOKEN_RUN_LENGTHS_SQL = """
WITH toks AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       unnest(range(1, len(w) + 1)) AS t(i)
),
islands AS (
  SELECT doc_id, token,
         pos - row_number() OVER (PARTITION BY doc_id, token ORDER BY pos) AS isl,
         pos
  FROM toks
),
runs AS (
  SELECT doc_id, token, isl, count(*)::bigint AS run, min(pos) AS start_pos
  FROM islands GROUP BY doc_id, token, isl
),
best AS (
  SELECT doc_id, token, run, start_pos,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY run DESC, token ASC, start_pos ASC) AS rn
  FROM runs
)
SELECT doc_id, token AS run_token, run AS max_run,
       (run >= 3) AS is_degenerate
FROM best WHERE rn = 1
"""


#: Corpus-vocabulary stand-in for a bad-words list (C4-style blocklist
#: filtering); the operator is the stage, the list is configuration.
BLOCKLIST = ["slow", "dup", "bad"]


def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist safety filter: per document, the blocklisted-token
    count and ratio, and the keep verdict (ratio <= 0.1 — filter stages
    gate on rate, not presence, so one incidental hit does not nuke a
    long document). Pure column ops — one explode-free pass using
    array filter over the token array."""
    docs = read_table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    blocked = F.filter(toks, lambda t: t.isin(*BLOCKLIST))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(blocked).cast("long").alias("n_blocked"),
        F.round(
            F.size(blocked).cast("double") / F.size(toks).cast("double"), 6
        ).alias("blocked_ratio_r"),
        (
            F.size(blocked).cast("double") / F.size(toks).cast("double")
            <= 0.1
        ).alias("keep"),
    )


BLOCKLIST_FILTER_SQL = """
SELECT doc_id,
       len(w)::bigint AS n_tokens,
       len(list_filter(w, t -> t IN ('slow', 'dup', 'bad')))::bigint AS n_blocked,
       round(len(list_filter(w, t -> t IN ('slow', 'dup', 'bad')))::double
             / len(w)::double, 6) AS blocked_ratio_r,
       (len(list_filter(w, t -> t IN ('slow', 'dup', 'bad')))::double
        / len(w)::double <= 0.1) AS keep
FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""


def media_ppm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec registry proof: every document's bytes become a genuine
    binary PPM (P6) image — "P6\\n8 {h}\\n255\\n" header + the first h*24
    text bytes as an 8xh RGB raster — which the pure-Python container
    parser (operators/multimodal.decode_ppm: header scan, comment
    handling, raster slice) decodes inside Arrow batches; the reduced
    integer channel sums are then replayed by the oracle straight from
    the SOURCE text via strided ord()/substr() — so the real
    parse-a-container-produce-a-raster path is value-checked end to end,
    not just pytest'd (the PIL-gated compressed formats remain the only
    env-gated codecs)."""
    docs = read_table(spark, sf_dir, "documents")
    h = F.floor(F.octet_length("text") / 24).cast("int")
    raster = F.encode(F.substring("text", 1, h * 24), "UTF-8")
    header = F.encode(
        F.concat(F.lit("P6\n8 "), h.cast("string"), F.lit("\n255\n")), "UTF-8"
    )
    media = docs.where(h >= 1).select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, raster).alias("media"),
    )
    return decode_channel_stats(media, "image/ppm")


MEDIA_PPM_DECODE_STATS_SQL = """
SELECT doc_id AS media_id,
       8 AS width,
       (octet_length(encode(text)) // 24)::int AS height,
       list_sum(list_transform(
         range(1, (octet_length(encode(text)) // 24) * 24 + 1, 3),
         i -> ord(substr(text, i, 1))))::bigint AS r_sum,
       list_sum(list_transform(
         range(2, (octet_length(encode(text)) // 24) * 24 + 1, 3),
         i -> ord(substr(text, i, 1))))::bigint AS g_sum,
       list_sum(list_transform(
         range(3, (octet_length(encode(text)) // 24) * 24 + 1, 3),
         i -> ord(substr(text, i, 1))))::bigint AS b_sum
FROM documents
WHERE octet_length(encode(text)) >= 24
"""


def media_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec registry proof (the WAV twin of
    media_ppm_decode_stats): each document's bytes become a genuine
    RIFF/WAVE container (operators/multimodal.synth_wav_pcm16 — 44-byte
    canonical PCM header + the first 2*(len//2) text bytes as PCM16LE
    samples), parsed back by the real chunk-walking parser (decode_wav)
    inside Arrow batches; integer sample stats are replayed by the oracle
    straight from the source text (sample_i = byte_{2i-1} + 256 *
    byte_{2i} — ASCII bytes keep every sample positive, so no sign
    branch)."""
    import pyarrow as pa

    from hadoop_data_lake_spark.operators.multimodal import (
        decode_audio_stats,
        synth_wav_pcm16,
    )

    docs = read_table(spark, sf_dir, "documents")

    def synth(batches):
        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            blobs = []
            for t in texts:
                raw = t.encode("utf-8")
                pcm = raw[: 2 * (len(raw) // 2)]
                blobs.append(synth_wav_pcm16(pcm))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), pa.array(blobs, type=pa.binary())],
                names=["media_id", "media"],
            )

    media = docs.select("doc_id", "text").mapInArrow(
        synth, "media_id long, media binary"
    )
    return decode_audio_stats(media)


MEDIA_WAV_DECODE_STATS_SQL = """
SELECT doc_id AS media_id,
       (octet_length(encode(text)) // 2)::bigint AS n_samples,
       list_sum(list_transform(range(1, octet_length(encode(text)) // 2 + 1),
         i -> ord(substr(text, 2 * i - 1, 1))
              + 256 * ord(substr(text, 2 * i, 1))))::bigint AS sample_sum,
       list_min(list_transform(range(1, octet_length(encode(text)) // 2 + 1),
         i -> ord(substr(text, 2 * i - 1, 1))
              + 256 * ord(substr(text, 2 * i, 1))))::int AS sample_min,
       list_max(list_transform(range(1, octet_length(encode(text)) // 2 + 1),
         i -> ord(substr(text, 2 * i - 1, 1))
              + 256 * ord(substr(text, 2 * i, 1))))::int AS sample_max
FROM documents
"""


def media_avi_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container registry proof (completing the modality trio
    with media_ppm_decode_stats and media_wav_decode_stats): each
    document's bytes become a structurally valid AVI — RIFF 'AVI ' with an
    avih main header (true dwTotalFrames) and a LIST movi holding 4
    equal-size '00db' raw frames cut from the text — parsed back by the
    chunk-walking decoder (operators/multimodal.decode_avi, which also
    cross-checks avih's declared count against the movi chunks), sampling
    every 2nd frame to integer byte stats. The oracle replays the kept
    frames straight from the source text slices."""
    import pyarrow as pa

    from hadoop_data_lake_spark.operators.multimodal import (
        avi_frame_stats,
        synth_avi_raw,
    )

    docs = read_table(spark, sf_dir, "documents")

    def synth(batches):
        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            blobs = []
            for t in texts:
                raw = t.encode("utf-8")
                m = len(raw) // 4
                frames = [raw[i * m : (i + 1) * m] for i in range(4)]
                blobs.append(synth_avi_raw(frames))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), pa.array(blobs, type=pa.binary())],
                names=["media_id", "media"],
            )

    media = docs.select("doc_id", "text").mapInArrow(
        synth, "media_id long, media binary"
    )
    return avi_frame_stats(media, every=2)


MEDIA_AVI_FRAME_STATS_SQL = """
SELECT doc_id AS media_id,
       f.frame_idx,
       (octet_length(encode(text)) // 4)::bigint AS n_bytes,
       list_sum(list_transform(
         range(f.frame_idx * (octet_length(encode(text)) // 4) + 1,
               (f.frame_idx + 1) * (octet_length(encode(text)) // 4) + 1),
         i -> ord(substr(text, i, 1))))::bigint AS byte_sum
FROM documents
CROSS JOIN (SELECT unnest([0, 2])::int AS frame_idx) f
"""


def lake_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level lake profile: one row per registered table with its
    row count, column count, and total null cells — the "dataset card"
    overview a data platform surfaces before anyone queries (and the
    check that a testdata regeneration didn't silently change shape).
    Each table contributes one count-aggregation (nulls counted with
    count(*) - count(col), per column, summed — integer-exact); the union
    is 10 small frames, so the plan is 10 independent scans that AQE runs
    concurrently — no cross-table shuffle at all."""
    from hadoop_data_lake_spark.core.io import TABLES

    frames = []
    for t in TABLES:
        df = read_table(spark, sf_dir, t)
        null_cells = None
        for c in df.columns:
            term = F.count(F.lit(1)) - F.count(F.col(c))
            null_cells = term if null_cells is None else null_cells + term
        frames.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.lit(len(df.columns)).cast("long").alias("n_columns"),
                null_cells.cast("long").alias("n_null_cells"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _lake_profile_sql() -> str:
    from hadoop_data_lake_spark.core.io import TABLES

    parts = []
    for t in TABLES:
        parts.append(
            f"""
SELECT '{t}' AS table_name,
       count(*)::bigint AS n_rows,
       (SELECT count(*) FROM (DESCRIBE {t}))::bigint AS n_columns,
       (SELECT (count(*) * (SELECT count(*) FROM (DESCRIBE {t})))::bigint
        FROM {t}) - (
         SELECT sum(cnt)::bigint FROM (
           SELECT count(columns(*)) AS cnt FROM {t}
         ) UNPIVOT (cnt FOR col IN (COLUMNS(*)))
       ) AS n_null_cells
FROM {t}"""
        )
    return " UNION ALL ".join(parts)


LAKE_TABLE_PROFILE_SQL = _lake_profile_sql()


def zonemap_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map INTEGRITY audit: read every table's parquet FOOTER
    statistics (row-group column chunks, merged: sum of value counts, sum
    of null counts, min-of-mins / max-of-maxes for plain-integer columns)
    and emit them as rows — which the oracle then recomputes FROM THE DATA
    (count(*), count(col), min, max). Footer-vs-data equality is exactly
    what data-skipping correctness rests on: a writer that produced wrong
    row-group stats would silently corrupt every min/max-pruned scan.

    Footer reads run DISTRIBUTED: one task per file via mapInPandas over
    the file list (the manifest-build shape — at 100 TB the footers are
    thousands of objects and never touch the driver). min/max only for
    columns whose schema type is integer (exact in both engines); other
    columns contribute counts and null counts."""
    import pandas as pd

    import pyspark.sql.types as T

    from hadoop_data_lake_spark.core.io import SCHEMAS, TABLES

    int_cols = {
        t: {
            f.name
            for f in SCHEMAS[t].fields
            if isinstance(f.dataType, (T.LongType, T.IntegerType))
        }
        for t in TABLES
    }
    files = local_frame(
        spark,
        [(t, f"{sf_dir}/{t}.parquet") for t in TABLES],
        "table_name string, path string",
    ).repartition(len(TABLES))

    def op(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for t, path in zip(pdf["table_name"], pdf["path"]):
                md = pq.ParquetFile(path).metadata
                agg: dict = {}
                for rg in range(md.num_row_groups):
                    for j in range(md.num_columns):
                        col = md.row_group(rg).column(j)
                        name = col.path_in_schema
                        if "." in name:  # nested leaf (list/struct): the
                            continue     # audit covers top-level primitives
                        st = col.statistics
                        a = agg.setdefault(
                            name, {"nv": 0, "nc": 0, "mn": None, "mx": None}
                        )
                        a["nv"] += col.num_values
                        a["nc"] += st.null_count if st is not None else 0
                        if name in int_cols[t] and st is not None and st.has_min_max:
                            mn, mx = int(st.min), int(st.max)
                            a["mn"] = mn if a["mn"] is None else min(a["mn"], mn)
                            a["mx"] = mx if a["mx"] is None else max(a["mx"], mx)
                for name, a in agg.items():
                    out.append((t, name, a["nv"], a["nc"], a["mn"], a["mx"]))
            yield pd.DataFrame(
                out,
                columns=[
                    "table_name",
                    "column_name",
                    "n_values",
                    "null_count",
                    "min_i64",
                    "max_i64",
                ],
            )

    return files.mapInPandas(
        op,
        "table_name string, column_name string, n_values long, "
        "null_count long, min_i64 long, max_i64 long",
    )


def _zonemap_audit_sql() -> str:
    import pyspark.sql.types as T

    from hadoop_data_lake_spark.core.io import SCHEMAS, TABLES

    parts = []
    for t in TABLES:
        for f in SCHEMAS[t].fields:
            if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)):
                continue  # nested: footer stats live on leaves, skipped above
            is_int = isinstance(f.dataType, (T.LongType, T.IntegerType))
            mn = f"min({f.name})::bigint" if is_int else "NULL::bigint"
            mx = f"max({f.name})::bigint" if is_int else "NULL::bigint"
            parts.append(
                f"SELECT '{t}' AS table_name, '{f.name}' AS column_name, "
                f"count(*)::bigint AS n_values, "
                f"(count(*) - count({f.name}))::bigint AS null_count, "
                f"{mn} AS min_i64, {mx} AS max_i64 FROM {t}"
            )
    return " UNION ALL ".join(parts)


ZONEMAP_INTEGRITY_AUDIT_SQL = _zonemap_audit_sql()


def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone decontamination REPORT: one row per detection layer —
    exact n-gram overlap, lexical MinHash-LSH cross-corpus, semantic
    embedding cosine — with flagged-document and hit counts side by side.
    The layered report is what a pretraining run actually reviews before
    dropping data: each layer catches what the previous one structurally
    misses (verbatim -> paraphrase -> reworded), and a layer whose count
    collapses to 0 signals a probe-set or threshold regression. Reuses the
    three oracle-verified pipelines verbatim; each contributes one
    aggregate over its own plan (no cross-layer shuffle)."""
    ng = decontaminate_ngram_overlap(spark, sf_dir).agg(
        F.lit("ngram_overlap").alias("method"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_hits"),
    )
    mh = decontaminate_minhash_cross(spark, sf_dir).agg(
        F.lit("minhash_cross").alias("method"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_hits"),
    )
    em = decontaminate_embedding_cosine(spark, sf_dir).agg(
        F.lit("embedding_cosine").alias("method"),
        F.countDistinct("vec_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_hits"),
    )
    return ng.unionByName(mh).unionByName(em)


DECONTAMINATION_REPORT_SQL = f"""
SELECT 'ngram_overlap' AS method, count(DISTINCT doc_id)::bigint AS n_docs,
       count(*)::bigint AS n_hits
FROM ({DECONTAMINATE_NGRAM_OVERLAP_SQL})
UNION ALL
SELECT 'minhash_cross', count(DISTINCT doc_id)::bigint, count(*)::bigint
FROM ({DECONTAMINATE_MINHASH_CROSS_SQL})
UNION ALL
SELECT 'embedding_cosine', count(DISTINCT vec_id)::bigint, count(*)::bigint
FROM ({DECONTAMINATE_EMBEDDING_COSINE_SQL})
"""


def kmv_week_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET OPERATIONS — the capability that justifies keeping
    sketches at all: estimate the user-base overlap of two weeks (union,
    Jaccard, intersection) purely from the two k-min states, never
    re-reading the facts. Method (Beyer et al. 2007): the k smallest
    hashes of S1 ∪ S2 form the union sketch; the fraction of those
    present in BOTH input sketches estimates Jaccard; intersection =
    jaccard x union. Everything post-hash is integer until one closed-form
    float per estimate (detsketches determinism rules); exact counts ride
    along for the error to be visible."""
    from hadoop_data_lake_spark.functions.detsketches import (
        KMV_K,
        kmv_estimate,
        kmv_minima,
    )
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    wk = ev.select(
        (F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7)
        .cast("int")
        .alias("wk"),
        "user_id",
    ).where(F.col("wk").isin(0, 1))
    mins = kmv_minima(wk, ["wk"], "user_id").localCheckpoint(eager=False)
    est = kmv_estimate(mins, ["wk"])
    union_all = mins.select("h").distinct()
    w = Window.orderBy("h")
    union_k = (
        union_all.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    # GLOBAL aggregate, not kmv_estimate's groupBy (r9 empty-corpus axis):
    # a grouped agg over an empty union sketch yields ZERO rows while the
    # oracle's global `FROM union_k` yields one (est 0.0 via the n<k
    # branch) — the global form keeps the engines row-aligned.
    union_est = union_k.agg(
        F.count("*").alias("n_min"), F.max("h").alias("hk")
    ).select(
        F.when(F.col("n_min") < KMV_K, F.col("n_min").cast("double"))
        .otherwise(
            F.lit(float((KMV_K - 1) * (1 << 60))) / F.col("hk").cast("double")
        )
        .alias("est_union")
    )
    s0 = mins.where(F.col("wk") == 0).select("h")
    s1 = mins.where(F.col("wk") == 1).select("h")
    in_both = (
        union_k.join(s0, "h", "left_semi").join(s1, "h", "left_semi").count()
    )
    k_used = union_k.count()
    exact = (
        wk.groupBy("user_id")
        .agg(F.max(F.when(F.col("wk") == 0, 1).otherwise(0)).alias("w0"),
             F.max(F.when(F.col("wk") == 1, 1).otherwise(0)).alias("w1"))
        .agg(
            F.sum("w0").cast("long").alias("exact_w0"),
            F.sum("w1").cast("long").alias("exact_w1"),
            F.sum(F.col("w0") * F.col("w1")).cast("long").alias("exact_inter"),
        )
    )
    # conditional global agg instead of groupBy().pivot(): a pivot over an
    # empty per-week estimate frame returns ZERO rows (the oracle's scalar
    # subqueries return NULL in their one row) — first(when, ignorenulls)
    # is row-stable on empty input and unambiguous here (one row per wk)
    ests = est.agg(
        F.first(F.when(F.col("wk") == 0, F.col("est")), ignorenulls=True).alias("e0"),
        F.first(F.when(F.col("wk") == 1, F.col("est")), ignorenulls=True).alias("e1"),
    ).crossJoin(union_est)
    return (
        ests.crossJoin(exact)
        .select(
            F.round("e0", 6).alias("est_w0_r"),
            F.round("e1", 6).alias("est_w1_r"),
            F.round("est_union", 6).alias("est_union_r"),
            # nullif: an empty corpus leaves an empty union sketch
            # (k_used = 0) — Jaccard is undefined, NULL in both engines
            # (DuckDB division by zero already yields NULL; r9 sweep axis)
            F.round(
                F.lit(in_both) / F.nullif(F.lit(k_used), F.lit(0)), 6
            ).alias("jaccard_est_r"),
            F.round(
                (F.lit(in_both) / F.nullif(F.lit(k_used), F.lit(0)))
                * F.col("est_union"),
                6,
            ).alias("est_inter_r"),
            "exact_w0",
            "exact_w1",
            "exact_inter",
        )
    )


KMV_WEEK_OVERLAP_SQL = f"""
WITH wkt AS (
  SELECT ((ts::date - DATE '2024-01-01') // 7)::int AS wk, user_id
  FROM events
  WHERE ((ts::date - DATE '2024-01-01') // 7)::int IN (0, 1)
),
hh AS (
  SELECT DISTINCT wk, {md5_60bit_sql('user_id::varchar')}::bigint AS h FROM wkt
),
mins AS (
  SELECT wk, h FROM (
    SELECT wk, h, row_number() OVER (PARTITION BY wk ORDER BY h) AS rn
    FROM hh) WHERE rn <= 64
),
est AS (
  SELECT wk, CASE WHEN count(*) < 64 THEN count(*)::double
                  ELSE {float(63 * (1 << 60))!r} / max(h)::double END AS est
  FROM mins GROUP BY wk
),
union_k AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM mins)) WHERE rn <= 64
),
union_est AS (
  SELECT CASE WHEN count(*) < 64 THEN count(*)::double
              ELSE {float(63 * (1 << 60))!r} / max(h)::double END AS est_union,
         count(*)::bigint AS k_used
  FROM union_k
),
in_both AS (
  SELECT count(*)::bigint AS n
  FROM union_k u
  WHERE EXISTS (SELECT 1 FROM mins m WHERE m.wk = 0 AND m.h = u.h)
    AND EXISTS (SELECT 1 FROM mins m WHERE m.wk = 1 AND m.h = u.h)
),
exact AS (
  SELECT sum(w0)::bigint AS exact_w0, sum(w1)::bigint AS exact_w1,
         sum(w0 * w1)::bigint AS exact_inter
  FROM (SELECT user_id,
               max(CASE WHEN wk = 0 THEN 1 ELSE 0 END) AS w0,
               max(CASE WHEN wk = 1 THEN 1 ELSE 0 END) AS w1
        FROM wkt GROUP BY user_id)
)
SELECT round((SELECT est FROM est WHERE wk = 0), 6) AS est_w0_r,
       round((SELECT est FROM est WHERE wk = 1), 6) AS est_w1_r,
       round(u.est_union, 6) AS est_union_r,
       round(b.n::double / nullif(u.k_used, 0), 6) AS jaccard_est_r,
       round((b.n::double / nullif(u.k_used, 0)) * u.est_union, 6) AS est_inter_r,
       e.exact_w0, e.exact_w1, e.exact_inter
FROM union_est u, in_both b, exact e
"""


def hashed_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embed-then-search END TO END with no external model: documents ->
    64-dim feature-hashed count vectors (the hashing trick,
    hashed_token_vectors' bucket hash at KNN width) -> sparse cosine
    top-3 for each probe doc (doc_id % 100 == 0). The dot product is the
    SPARSE formulation — a (bucket)-keyed equi-join summing c_a * c_b —
    which is the only shape that survives high-dim hashed spaces at scale
    (dense arrays would shuffle 64x the data for mostly-zero products);
    counts and dot products are integers, norms one sqrt each, cosine a
    single closed-form double, rounded then ranked (rank-on-rounded).

    100 TB shape: probe side broadcast; corpus token pass is one shuffle
    to (doc, bucket) counts; candidates only exist where buckets collide."""
    dim = 64
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(TX.tokens(F.col("text"))).alias("t")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long"), F.lit(dim)
    )
    counts = (
        toks.withColumn("b", bucket)
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    norms = counts.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    probes = counts.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("probe_id"), "b", F.col("c").alias("cp")
    )
    probe_norms = norms.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("probe_id"), F.col("n2").alias("np2")
    )
    dots = (
        counts.join(F.broadcast(probes), "b")
        .where(F.col("doc_id") != F.col("probe_id"))
        .groupBy("probe_id", "doc_id")
        .agg(F.sum(F.col("c") * F.col("cp")).alias("dot"))
    )
    scored = (
        dots.join(norms, "doc_id")
        .join(F.broadcast(probe_norms), "probe_id")
        .withColumn(
            "sim_r",
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("np2").cast("double"))),
                6,
            ),
        )
    )
    from hadoop_data_lake_spark.operators.windows import topk_per_group

    return topk_per_group(
        scored,
        ["probe_id"],
        [F.col("sim_r").desc(), F.col("doc_id").asc()],
        k=3,
    ).select("probe_id", F.col("doc_id").alias("neighbor_id"), "sim_r", "rnk")


HASHED_EMBEDDING_KNN_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
counts AS (
  SELECT doc_id,
         ('0x' || substr(md5(t), 1, 8))::bigint % 64 AS b,
         count(*)::bigint AS c
  FROM toks GROUP BY 1, 2
),
norms AS (
  SELECT doc_id, sum(c * c)::bigint AS n2 FROM counts GROUP BY doc_id
),
probes AS (
  SELECT doc_id AS probe_id, b, c AS cp FROM counts WHERE doc_id % 100 = 0
),
dots AS (
  SELECT p.probe_id, c.doc_id, sum(c.c * p.cp)::bigint AS dot
  FROM counts c JOIN probes p ON c.b = p.b AND c.doc_id <> p.probe_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.probe_id, d.doc_id,
         round(d.dot::double / (sqrt(n.n2::double) * sqrt(pn.n2::double)), 6) AS sim_r
  FROM dots d
  JOIN norms n ON d.doc_id = n.doc_id
  JOIN norms pn ON d.probe_id = pn.doc_id
)
SELECT probe_id, doc_id AS neighbor_id, sim_r, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim_r DESC, doc_id ASC) AS rnk
      FROM scored)
WHERE rnk <= 3
"""


def data_mix_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data source mixing by water-filling: given per-source token
    totals and a global budget of half the corpus, allocate each source
    min(tokens, tau) where the water level tau is chosen so the
    allocations exhaust the budget — the standard 'cap the biggest
    sources, keep the small ones whole' mixing rule. All arithmetic is
    integer (token counts, floor-divided levels), so tau replays exactly.
    Scale shape: one hash aggregate to the per-source totals, a prefix
    pass over that aggregate (operators/packing.prefix_agg — sources are
    ~10^5+ at web scale, so even the aggregate frame avoids a single-task
    sort), one broadcast of the scalar tau back."""
    from hadoop_data_lake_spark.operators.packing import prefix_agg

    docs = read_table(spark, sf_dir, "documents")
    # eager-checkpoint the per-source totals (r11): three consumers (the
    # totals scalar, the prefix pass, the final allocation select)
    # otherwise re-run the corpus tokenize-and-sum each
    per_src = (
        docs.select(
            "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("toks")
        )
        .groupBy("source")
        .agg(F.sum("toks").alias("toks"))
        .localCheckpoint(eager=True)
    )
    tot = per_src.agg(
        F.count("*").alias("m"), F.sum("toks").alias("g")
    ).select("m", "g", F.expr("g div 2").alias("b"))
    ranked = prefix_agg(
        per_src.withColumn("__one", F.lit(1)),
        ["toks", "source"],
        sum_cols={"k": "__one", "cum": "toks"},
    ).crossJoin(F.broadcast(tot))
    # smallest k where filling every remaining source to T_k covers the
    # budget; tau is the exact level inside that bracket (integer floor).
    cand = ranked.where(
        (F.col("cum") - F.col("toks"))
        + (F.col("m") - F.col("k") + 1) * F.col("toks")
        >= F.col("b")
    )
    tau = cand.agg(
        F.min_by(
            F.expr("(b - (cum - toks)) div (m - k + 1)"), F.col("k")
        ).alias("tau")
    )
    return (
        per_src.crossJoin(F.broadcast(tau))
        .select(
            "source",
            "toks",
            F.least(F.col("toks"), F.col("tau")).alias("alloc_toks"),
            (F.col("toks") > F.col("tau")).alias("capped"),
        )
    )


DATA_MIX_WATERFILL_SQL = """
WITH per_src AS (
  SELECT source, sum(len(string_split(text, ' ')))::bigint AS toks
  FROM documents GROUP BY source
),
tot AS (
  SELECT count(*)::bigint AS m, sum(toks)::bigint AS g,
         sum(toks)::bigint // 2 AS b
  FROM per_src
),
ranked AS (
  SELECT source, toks,
         row_number() OVER (ORDER BY toks, source) AS k,
         sum(toks) OVER (ORDER BY toks, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum
  FROM per_src
),
tau AS (
  SELECT arg_min((b - (cum - toks)) // (m - k + 1), k) AS tau
  FROM ranked, tot
  WHERE (cum - toks) + (m - k + 1) * toks >= b
)
SELECT p.source, p.toks, least(p.toks, tau.tau)::bigint AS alloc_toks,
       p.toks > tau.tau AS capped
FROM per_src p, tau
"""


def quality_ensemble_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-ensemble ablation report over the five Gopher rules: per
    rule, how many documents it fails, how many it ALONE fails (the
    rule's unique contribution — the number the corpus gets back if the
    rule is dropped), plus the corpus-level keep counts under strict
    AND-of-all-rules vs majority vote (>= 4 of 5) — the ablation table a
    data team reads before shipping a filter change. Reuses the
    quality_gopher_filters frame; one melt + two hash aggregations."""
    g = quality_gopher_filters(spark, sf_dir)
    melted = g.select(
        "doc_id",
        (
            F.lit(5)
            - F.col("ok_word_count").cast("int")
            - F.col("ok_mean_word_len").cast("int")
            - F.col("ok_stopwords").cast("int")
            - F.col("ok_digit_ratio").cast("int")
            - F.col("ok_repetition").cast("int")
        ).alias("n_fail_doc"),
        F.expr(
            "stack(5, 'word_count', ok_word_count, 'mean_word_len', "
            "ok_mean_word_len, 'stopwords', ok_stopwords, "
            "'digit_ratio', ok_digit_ratio, 'repetition', ok_repetition) "
            "as (rule, ok)"
        ),
    )
    tot = melted.groupBy().agg(
        (F.count_distinct("doc_id")).alias("n_docs"),
        (F.sum((F.col("n_fail_doc") == 0).cast("long")) / 5).alias("n_kept_strict"),
        (F.sum((F.col("n_fail_doc") <= 1).cast("long")) / 5).alias("n_kept_majority"),
    ).select(
        "n_docs",
        F.col("n_kept_strict").cast("long").alias("n_kept_strict"),
        F.col("n_kept_majority").cast("long").alias("n_kept_majority"),
    )
    return (
        melted.groupBy("rule")
        .agg(
            F.sum((~F.col("ok")).cast("long")).alias("n_fail"),
            F.sum(
                ((~F.col("ok")) & (F.col("n_fail_doc") == 1)).cast("long")
            ).alias("n_fail_alone"),
        )
        .crossJoin(F.broadcast(tot))
    )


QUALITY_ENSEMBLE_VOTE_SQL = f"""
WITH g AS ({QUALITY_GOPHER_FILTERS_SQL}),
d AS (
  SELECT doc_id,
         (NOT ok_word_count)::int + (NOT ok_mean_word_len)::int
         + (NOT ok_stopwords)::int + (NOT ok_digit_ratio)::int
         + (NOT ok_repetition)::int AS n_fail_doc,
         ok_word_count, ok_mean_word_len, ok_stopwords, ok_digit_ratio,
         ok_repetition
  FROM g
),
r AS (
  SELECT 'word_count' AS rule, NOT ok_word_count AS fail, n_fail_doc FROM d
  UNION ALL
  SELECT 'mean_word_len', NOT ok_mean_word_len, n_fail_doc FROM d
  UNION ALL
  SELECT 'stopwords', NOT ok_stopwords, n_fail_doc FROM d
  UNION ALL
  SELECT 'digit_ratio', NOT ok_digit_ratio, n_fail_doc FROM d
  UNION ALL
  SELECT 'repetition', NOT ok_repetition, n_fail_doc FROM d
),
tot AS (
  SELECT count(*)::bigint AS n_docs,
         sum((n_fail_doc = 0)::int)::bigint AS n_kept_strict,
         sum((n_fail_doc <= 1)::int)::bigint AS n_kept_majority
  FROM d
)
SELECT r.rule, sum(r.fail::int)::bigint AS n_fail,
       sum((r.fail AND r.n_fail_doc = 1)::int)::bigint AS n_fail_alone,
       tot.n_docs, tot.n_kept_strict, tot.n_kept_majority
FROM r, tot
GROUP BY r.rule, tot.n_docs, tot.n_kept_strict, tot.n_kept_majority
"""


def dedup_survivor_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship policy on top of the minhash near-dup clusters: per
    cluster keep the member with the MOST content (max n_chars, ties to
    the smallest doc id) — the doc-level analog of er_golden_record's
    field survivorship, and the step that turns 'clusters found' into
    'rows to delete'. Two tiny aggregations over the cluster frame (max
    length, then min id among the maximal members); everything upstream
    rides the banded-LSH + O(log n) connected-components path."""
    clusters = dedup_clusters_minhash(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = clusters.join(docs, clusters["doc"] == docs["doc_id"]).select(
        "cluster_rep", "doc", "n_chars"
    )
    per = j.groupBy("cluster_rep").agg(
        F.count("*").alias("n_members"),
        F.max("n_chars").alias("survivor_chars"),
        F.sum("n_chars").alias("total_chars"),
    )
    winners = (
        j.join(per, "cluster_rep")
        .where(F.col("n_chars") == F.col("survivor_chars"))
        .groupBy("cluster_rep", "n_members", "survivor_chars", "total_chars")
        .agg(F.min("doc").alias("survivor_doc"))
    )
    return winners.select(
        "cluster_rep",
        "survivor_doc",
        "n_members",
        "survivor_chars",
        (F.col("n_members") - 1).alias("n_dropped"),
        (F.col("total_chars") - F.col("survivor_chars")).alias("chars_dropped"),
    )


DEDUP_SURVIVOR_SELECTION_SQL = f"""
WITH c AS ({DEDUP_CLUSTERS_MINHASH_SQL}),
j AS (
  SELECT c.cluster_rep, c.doc, d.n_chars
  FROM c JOIN documents d ON c.doc = d.doc_id
),
per AS (
  SELECT cluster_rep, count(*)::bigint AS n_members,
         max(n_chars)::bigint AS survivor_chars,
         sum(n_chars)::bigint AS total_chars
  FROM j GROUP BY cluster_rep
)
SELECT p.cluster_rep, min(j.doc)::bigint AS survivor_doc, p.n_members,
       p.survivor_chars, (p.n_members - 1)::bigint AS n_dropped,
       (p.total_chars - p.survivor_chars)::bigint AS chars_dropped
FROM j JOIN per p ON j.cluster_rep = p.cluster_rep
WHERE j.n_chars = p.survivor_chars
GROUP BY p.cluster_rep, p.n_members, p.survivor_chars, p.total_chars
"""


def shard_lpt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced export sharding by snake placement: documents ranked by
    token count descending are dealt to 8 shards boustrophedon-style
    (1..8, 8..1, ...) — the deterministic one-pass approximation of
    longest-processing-time scheduling that keeps every shard within one
    max-document of optimal. Global ranks come from the two-phase prefix
    pass (never a single-task sort of the corpus); output is the per-
    shard doc count, token total, and skew against the ideal equal
    share."""
    from hadoop_data_lake_spark.operators.packing import prefix_agg

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("toks")
    )
    ranked = prefix_agg(
        docs.withColumn("__one", F.lit(1)).withColumn("__neg", -F.col("toks")),
        ["__neg", "doc_id"],
        sum_cols={"rk": "__one"},
    )
    pos = F.col("rk") - 1
    r = pos % 16
    placed = ranked.withColumn(
        "shard", F.when(r < 8, r).otherwise(15 - r).cast("int")
    )
    tot = placed.agg(F.sum("toks").alias("g"))
    return (
        placed.groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.sum("toks").alias("toks"))
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "toks",
            F.round(
                F.col("toks").cast("double") * 8.0 / F.col("g").cast("double"), 6
            ).alias("skew_r"),
        )
    )


SHARD_LPT_PLAN_SQL = """
WITH docs AS (
  SELECT doc_id, len(string_split(text, ' '))::bigint AS toks FROM documents
),
ranked AS (
  SELECT doc_id, toks,
         row_number() OVER (ORDER BY toks DESC, doc_id) - 1 AS pos
  FROM docs
),
placed AS (
  SELECT toks,
         CASE WHEN pos % 16 < 8 THEN pos % 16 ELSE 15 - pos % 16 END::int AS shard
  FROM ranked
),
tot AS (SELECT sum(toks)::bigint AS g FROM placed)
SELECT p.shard, count(*)::bigint AS n_docs, sum(p.toks)::bigint AS toks,
       round(sum(p.toks)::double * 8.0 / tot.g::double, 6) AS skew_r
FROM placed p, tot
GROUP BY p.shard, tot.g
"""


def ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design readout: what
    fraction of the corpus token MASS do the top-k vocabulary entries
    cover, for k in {10, 25, 50, 100} (clamped to the vocabulary size)?
    Frequency ranks and cumulative mass over the vocabulary come from ONE
    two-phase prefix pass (operators/packing.prefix_agg — a web-scale
    vocabulary is 10^8+ entries, so even the aggregate frame avoids a
    single-task sort); each curve point is then a broadcast rank join.
    All counts integer; one rounded share per point."""
    from hadoop_data_lake_spark.operators.packing import prefix_agg

    docs = read_table(spark, sf_dir, "documents").select("text")
    # eager-checkpoint the vocab count table (r11): the totals aggregate
    # and the prefix pass both consume it (2 corpus explodes -> 1)
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    tot = vocab.agg(
        F.count("*").alias("n_vocab"), F.sum("cnt").alias("mass")
    )
    ranked = prefix_agg(
        vocab.withColumn("__one", F.lit(1)).withColumn("__neg", -F.col("cnt")),
        ["__neg", "token"],
        sum_cols={"rk": "__one", "cum": "cnt"},
    ).crossJoin(F.broadcast(tot))
    ks = local_frame(spark, [(10,), (25,), (50,), (100,)], "k INT")
    targets = ks.crossJoin(F.broadcast(tot)).select(
        "k", F.least(F.col("k").cast("long"), F.col("n_vocab")).alias("target")
    )
    return (
        ranked.join(F.broadcast(targets), ranked["rk"] == targets["target"])
        .groupBy("k")
        .agg(
            F.min("target").alias("vocab_used"),
            F.min("cum").alias("covered"),
            F.round(
                F.min("cum").cast("double") / F.min("mass").cast("double"), 6
            ).alias("coverage_r"),
        )
    )


NGRAM_COVERAGE_CURVE_SQL = """
WITH vocab AS (
  SELECT u.token, count(*)::bigint AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) u
  WHERE u.token <> '' GROUP BY u.token
),
tot AS (SELECT count(*)::bigint AS n_vocab, sum(cnt)::bigint AS mass FROM vocab),
ranked AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token) AS rk,
         sum(cnt) OVER (ORDER BY cnt DESC, token
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum
  FROM vocab
),
targets AS (
  SELECT k.k, least(k.k::bigint, tot.n_vocab) AS target, tot.mass
  FROM (VALUES (10), (25), (50), (100)) k(k), tot
)
SELECT t.k, min(t.target)::bigint AS vocab_used, min(r.cum)::bigint AS covered,
       round(min(r.cum)::double / min(t.mass)::double, 6) AS coverage_r
FROM ranked r JOIN targets t ON r.rk = t.target
GROUP BY t.k
"""


def mutual_nn_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor matching between the two halves of the
    embedding corpus (even vs odd vec_id standing in for two languages /
    two crawls) — the margin-free core of bitext mining and cross-corpus
    alignment: a pair survives only if each side is the other's single
    best cosine match (ties to the smaller id), which kills the hub
    vectors that dominate one-directional top-1 matching. This is the
    brute-force tier (one broadcast of the smaller side, argmax per row —
    no quadratic materialization); at corpus scale the candidate
    generation swaps for the LSH/IVF ANN tiers like every other
    embedding query here."""
    from hadoop_data_lake_spark.functions.vectors import cosine

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # both halves checkpointed (r9 scan-multiplicity audit): the two
    # direction-argmax aggregations each REGENERATE the broadcast cross
    # stream — correct at scale (materializing the quadratic intermediate
    # would be worse) — but each regeneration re-scanned the base table
    # twice; the per-vector halves are cheap to pin (4 scans -> 2)
    left = (
        emb.where(F.col("vec_id") % 2 == 0)
        .select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
        .localCheckpoint(eager=True)
    )
    right = (
        emb.where(F.col("vec_id") % 2 == 1)
        .select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
        .localCheckpoint(eager=True)
    )
    scored = left.crossJoin(F.broadcast(right)).select(
        "a", "b", F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos_r")
    )
    best_l = scored.groupBy("a").agg(
        F.max(F.struct(F.col("cos_r"), (-F.col("b")).alias("nb"))).alias("m")
    ).select("a", (-F.col("m.nb")).alias("b"), F.col("m.cos_r").alias("cos_r"))
    best_r = scored.groupBy("b").agg(
        F.max(F.struct(F.col("cos_r"), (-F.col("a")).alias("na"))).alias("m")
    ).select("b", (-F.col("m.na")).alias("best_a"))
    return (
        best_l.join(best_r, "b")
        .where(F.col("best_a") == F.col("a"))
        .select("a", "b", "cos_r")
    )


def _mutual_nn_sql() -> str:
    cos = cosine_sql("l.embedding", "r.embedding")
    return f"""
WITH scored AS MATERIALIZED (
  SELECT l.vec_id AS a, r.vec_id AS b, round({cos}, 6) AS cos_r
  FROM embeddings l JOIN embeddings r
    ON l.vec_id % 2 = 0 AND r.vec_id % 2 = 1
),
best_l AS (
  SELECT a, b, cos_r FROM (
    SELECT *, row_number() OVER (PARTITION BY a ORDER BY cos_r DESC, b ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
best_r AS (
  SELECT b, a AS best_a FROM (
    SELECT *, row_number() OVER (PARTITION BY b ORDER BY cos_r DESC, a ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT l.a, l.b, l.cos_r
FROM best_l l JOIN best_r r ON l.b = r.b
WHERE r.best_a = l.a
"""


MUTUAL_NN_BITEXT_PAIRS_SQL = _mutual_nn_sql()


def embedding_int8_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 (0..255) min-max quantization audit for the
    embedding column — the compression readout before shipping a vector
    index: per dimension the value range, the maximum and mean absolute
    reconstruction error in micro-units (integers, so both engines agree
    bit-for-bit after the one deterministic HALF-UP round per element).
    Scale shape: one explode pass, a 64-row per-dimension aggregate
    broadcast back, one re-aggregation — full map-side combine on a
    dimension key that is bounded by the model, not the data."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    el = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    stats = el.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    j = el.join(F.broadcast(stats), "dim")
    scale = (F.col("mx") - F.col("mn")) / 255.0
    code = F.when(
        F.col("mx") > F.col("mn"), F.round((F.col("x") - F.col("mn")) / scale, 0)
    ).otherwise(F.lit(0.0))
    deq = F.col("mn") + code * scale
    err_um = F.round((F.col("x") - deq) * 1e6, 0).cast("long")
    return (
        j.select("dim", "mn", "mx", err_um.alias("err_um"))
        .groupBy("dim")
        .agg(
            F.round(F.min("mn"), 6).alias("mn_r"),
            F.round(F.min("mx"), 6).alias("mx_r"),
            F.max(F.abs(F.col("err_um"))).alias("max_abs_err_um"),
            F.round(
                F.sum(F.abs(F.col("err_um"))).cast("double") / F.count("*"), 3
            ).alias("mean_abs_err_um_r"),
        )
    )


EMBEDDING_INT8_QUANTIZE_STATS_SQL = """
WITH el AS (
  SELECT vec_id, i - 1 AS dim, x::double AS x
  FROM (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           unnest(embedding) AS x
    FROM embeddings
  )
),
stats AS (
  SELECT dim, min(x) AS mn, max(x) AS mx FROM el GROUP BY dim
),
err AS (
  SELECT el.dim, s.mn, s.mx,
         round((el.x - (s.mn + (CASE WHEN s.mx > s.mn
                  THEN round((el.x - s.mn) / ((s.mx - s.mn) / 255.0), 0)
                  ELSE 0.0 END) * ((s.mx - s.mn) / 255.0))) * 1e6, 0)::bigint AS err_um
  FROM el JOIN stats s ON el.dim = s.dim
)
SELECT dim::int AS dim, round(min(mn), 6) AS mn_r, round(min(mx), 6) AS mx_r,
       max(abs(err_um))::bigint AS max_abs_err_um,
       round(sum(abs(err_um))::double / count(*), 3) AS mean_abs_err_um_r
FROM err GROUP BY dim
"""


def stream_upsert_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch SCD1 upsert replay — the missing sink topology in the
    streaming family's driver coverage: the event stream re-sliced into 4
    micro-batches (maxFilesPerTrigger=1) foreachBatch-upserts the latest
    row per user into a generation-pointer parquet table
    (streaming/ingest.stream_upsert_latest — immutable gen dirs + one
    atomic os.replace pointer commit per batch, the lakehouse MERGE
    pattern). The final table is batch-split independent because
    latest-per-user is an associative argmax, so the DuckDB oracle is the
    plain batch argmax — any divergence means the incremental path
    dropped or double-applied a row. Crash-safety and time travel over
    the same protocol are pytest-gated."""
    import shutil
    import tempfile

    from hadoop_data_lake_spark.functions.fixedpoint import to_units
    from hadoop_data_lake_spark.streaming.ingest import stream_upsert_latest

    target = tempfile.mkdtemp(prefix="stream_scd1_")
    try:
        final = stream_upsert_latest(
            spark, f"{sf_dir}/events.parquet", target, n_slices=4
        )
        return final.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            to_units(F.col("value")).alias("last_value_cents"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(target, ignore_errors=True)


STREAM_UPSERT_SCD1_SQL = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       round(value * 100)::bigint AS last_value_cents
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the n-gram marker
    classifier (functions/text.lang_id) against the corpus's labeled
    `lang` column, with per-cell share of the true-language row — the
    readout that tells a data pipeline WHICH languages the cheap
    classifier confuses before it gates routing decisions on it. One
    narrow projection + one hash aggregate."""
    docs = read_table(spark, sf_dir, "documents").select("lang", "text")
    pred = docs.select(
        F.col("lang").alias("true_lang"), TX.lang_id(F.col("text")).alias("pred_lang")
    )
    # aggregate-first (r11): the per-true marginals are row sums of the
    # lang x lang confusion matrix, so the classifier expression runs over
    # the corpus ONCE (was 2x)
    cm = (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    per_true = cm.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    return (
        cm.join(per_true, "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("n_true").cast("double"), 6
            ).alias("row_share_r"),
            (F.col("true_lang") == F.col("pred_lang")).alias("correct"),
        )
    )


def _lang_id_confusion_sql() -> str:
    return f"""
WITH pred AS (
  SELECT lang AS true_lang, {TX.lang_id_sql('text')} AS pred_lang FROM documents
),
per_true AS (
  SELECT true_lang, count(*)::bigint AS n_true FROM pred GROUP BY true_lang
)
SELECT p.true_lang, p.pred_lang, count(*)::bigint AS n,
       round(count(*)::double / min(t.n_true)::double, 6) AS row_share_r,
       p.true_lang = p.pred_lang AS correct
FROM pred p JOIN per_true t ON p.true_lang = t.true_lang
GROUP BY p.true_lang, p.pred_lang
"""


LANG_ID_CONFUSION_SQL = _lang_id_confusion_sql()


def hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing collision audit: for bucket counts 2^8 / 2^10 /
    2^12, how many vocabulary tokens collide (land in an occupied
    bucket), the occupied-bucket load, and the collision rate — the table
    that decides the hashing-trick dimension before a hashed-feature
    model ships (hashed_embedding_knn uses exactly this token->bucket
    map). Portable 60-bit MD5 bucketing; one explode + three re-uses of
    one DISTINCT vocabulary frame."""
    from hadoop_data_lake_spark.functions.hashing import md5_60bit

    docs = read_table(spark, sf_dir, "documents").select("text")
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    outs = []
    for bits in (8, 10, 12):
        per_bucket = (
            vocab.select((md5_60bit(F.col("token")) % (2 ** bits)).alias("b"))
            .groupBy("b")
            .agg(F.count("*").alias("k"))
        )
        outs.append(
            per_bucket.agg(
                F.lit(bits).alias("bits"),
                F.sum("k").alias("n_tokens"),
                F.count("*").alias("occupied"),
                F.sum(F.col("k") - 1).alias("n_collisions"),
                F.round(
                    F.sum(F.col("k") - 1).cast("double")
                    / F.sum("k").cast("double"),
                    6,
                ).alias("collision_rate_r"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _hash_collision_sql() -> str:
    from hadoop_data_lake_spark.functions.hashing import md5_60bit_sql

    h = md5_60bit_sql("token")
    parts = []
    for bits in (8, 10, 12):
        parts.append(f"""
SELECT {bits} AS bits, sum(k)::bigint AS n_tokens, count(*)::bigint AS occupied,
       sum(k - 1)::bigint AS n_collisions,
       round(sum(k - 1)::double / sum(k)::double, 6) AS collision_rate_r
FROM (
  SELECT {h} % {2 ** bits} AS b, count(*)::bigint AS k
  FROM (SELECT DISTINCT u.token
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) u
        WHERE u.token <> '') GROUP BY 1
)""")
    return "\nUNION ALL\n".join(parts)


HASH_COLLISION_AUDIT_SQL = _hash_collision_sql()


def lang_id_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the language classifier against the labeled lang
    column — chance-corrected agreement, the single-number companion to
    lang_id_confusion (plain accuracy flatters a classifier on skewed
    label mixes; kappa does not). po and pe fold from integer marginal
    counts of the confusion matrix; one rounded expression."""
    docs = read_table(spark, sf_dir, "documents").select("lang", "text")
    pred = docs.select(
        F.col("lang").alias("t"), TX.lang_id(F.col("text")).alias("p")
    ).localCheckpoint(eager=True)
    cm = pred.groupBy("t", "p").agg(F.count("*").alias("n"))
    tm = cm.groupBy("t").agg(F.sum("n").alias("nt"))
    pm = cm.groupBy("p").agg(F.sum("n").alias("np"))
    tot = cm.agg(
        F.sum("n").alias("n"),
        F.sum(F.when(F.col("t") == F.col("p"), F.col("n")).otherwise(0)).alias(
            "agree"
        ),
    )
    pe_num = (
        tm.join(pm, tm["t"] == pm["p"])
        .agg(F.sum(dprod(F.col("nt"), F.col("np"))).alias("pe_num"))
    )
    j = tot.crossJoin(F.broadcast(pe_num))
    po = F.col("agree").cast("double") / F.col("n").cast("double")
    pe = F.col("pe_num").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    return j.select(
        F.col("n").alias("n_docs"),
        F.col("agree").alias("n_agree"),
        F.round(po, 6).alias("po_r"),
        F.round(pe, 6).alias("pe_r"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa_r"),
    )


def _lang_kappa_sql() -> str:
    return f"""
WITH pred AS (
  SELECT lang AS t, {TX.lang_id_sql('text')} AS p FROM documents
),
cm AS (SELECT t, p, count(*)::bigint AS n FROM pred GROUP BY t, p),
tm AS (SELECT t, sum(n)::bigint AS nt FROM cm GROUP BY t),
pm AS (SELECT p, sum(n)::bigint AS np FROM cm GROUP BY p),
tot AS (
  SELECT sum(n)::bigint AS n,
         sum(CASE WHEN t = p THEN n ELSE 0 END)::bigint AS agree
  FROM cm
),
pe AS (
  SELECT sum(tm.nt::hugeint * pm.np::hugeint) AS pe_num
  FROM tm JOIN pm ON tm.t = pm.p
)
SELECT tot.n AS n_docs, tot.agree AS n_agree,
       round(tot.agree::double / tot.n::double, 6) AS po_r,
       round(pe.pe_num::double / (tot.n::double * tot.n::double), 6) AS pe_r,
       round((tot.agree::double / tot.n::double
              - pe.pe_num::double / (tot.n::double * tot.n::double))
             / (1.0 - pe.pe_num::double / (tot.n::double * tot.n::double)), 6)
         AS kappa_r
FROM tot, pe
"""


LANG_ID_COHENS_KAPPA_SQL = _lang_kappa_sql()


def corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-page training-corpus report card — the capstone that unions the
    round-5 curation stages into the (metric, value) summary a data lead
    reads before a training run: corpus size, exact-duplicate groups,
    near-dup clusters (minhash + O(log n) components), documents kept by
    the majority-vote quality ensemble, water-filled token budget
    actually allocated, vocabulary coverage of the top-50 tokens, and
    the 2^10 feature-hash collision rate. Every number re-derives from
    the same operators the dedicated queries grade (same code paths, not
    re-implementations), so the card is consistent with the rest of the
    registry by construction; values land in one integer-or-rounded
    column for the hash compare."""
    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    def _scalar(df) -> float | None:
        # None-tolerant bounded scalar pull (r9 empty-corpus axis): an
        # empty corpus leaves some sub-stages row-less or NULL — the
        # oracle's min()/sum() over empty are NULL rows, not crashes
        r = df.limit(1).collect()
        return float(r[0][0]) if r and r[0][0] is not None else None

    exact_groups = (
        DD.exact_dedup(docs, "doc_id", "text")
        .where(F.col("n_copies") >= 2)
        .count()
    )
    clusters = dedup_clusters_minhash(spark, sf_dir).select("cluster_rep").distinct().count()
    kept_major = _scalar(
        quality_ensemble_vote(spark, sf_dir).select("n_kept_majority")
    )
    alloc = _scalar(
        data_mix_waterfill(spark, sf_dir).agg(F.sum("alloc_toks").alias("a"))
    )
    cov50 = _scalar(
        ngram_coverage_curve(spark, sf_dir)
        .where(F.col("k") == 50)
        .select("coverage_r")
    )
    coll = _scalar(
        hash_collision_audit(spark, sf_dir)
        .where(F.col("bits") == 10)
        .select("collision_rate_r")
    )
    rows = [
        ("n_docs", float(n_docs)),
        ("exact_dup_groups", float(exact_groups)),
        ("near_dup_clusters", float(clusters)),
        ("kept_majority_vote", kept_major),
        ("waterfill_alloc_toks", alloc),
        ("vocab_coverage_top50_r", cov50),
        ("hash_collision_rate_2e10_r", coll),
    ]
    return local_frame(spark, rows, "metric string, value double")


def _corpus_report_card_sql() -> str:
    return f"""
SELECT 'n_docs' AS metric, count(*)::double AS value FROM documents
UNION ALL
SELECT 'exact_dup_groups', count(*)::double FROM ({DEDUP_EXACT_SQL}) WHERE n_copies >= 2
UNION ALL
SELECT 'near_dup_clusters', count(DISTINCT cluster_rep)::double
FROM ({DEDUP_CLUSTERS_MINHASH_SQL})
UNION ALL
SELECT 'kept_majority_vote', min(n_kept_majority)::double
FROM ({QUALITY_ENSEMBLE_VOTE_SQL})
UNION ALL
SELECT 'waterfill_alloc_toks', sum(alloc_toks)::double
FROM ({DATA_MIX_WATERFILL_SQL})
UNION ALL
SELECT 'vocab_coverage_top50_r', min(coverage_r)::double
FROM ({NGRAM_COVERAGE_CURVE_SQL}) WHERE k = 50
UNION ALL
SELECT 'hash_collision_rate_2e10_r', min(collision_rate_r)::double
FROM ({HASH_COLLISION_AUDIT_SQL}) WHERE bits = 10
"""


CORPUS_REPORT_CARD_SQL = _corpus_report_card_sql()


def semdedup_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified-silhouette quality audit of the SemDeDup clustering:
    per vector a = cosine distance to its own medoid, b = distance to
    the nearest OTHER medoid, s = (b - a) / max(a, b) — the standard
    clustering-quality score in its centroid form (no pairwise point
    joins, so it scales exactly like assignment). Distances derive from
    the same rounded cosine the clustering used; per-vector s quantizes
    to integer micro-units before the per-cluster mean so aggregation
    order cannot move the result. Output per cluster: size and mean
    silhouette."""
    from hadoop_data_lake_spark.functions.vectors import cosine
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = SIM.semdedup_prune(emb, num_clusters=8, threshold=0.95).select(
        "vec_id", "cluster_id"
    )
    cent = (
        emb.withColumn("__h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__h", "vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    scored = (
        emb.join(assigned, "vec_id")
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cluster_id",
            "cid",
            (1.0 - F.round(cosine(F.col("embedding"), F.col("cvec")), 6)).alias("dist"),
        )
        # checkpoint the (vector x 8 medoids) distance frame (r9
        # scan-multiplicity audit): the own-medoid and nearest-other
        # branches each re-executed the SemDeDup assignment + cosine
        # cross otherwise (4 embeddings scans per run)
        .localCheckpoint(eager=True)
    )
    own = scored.where(F.col("cid") == F.col("cluster_id")).select(
        "vec_id", "cluster_id", F.col("dist").alias("a")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cid").asc())
    other = (
        scored.where(F.col("cid") != F.col("cluster_id"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("dist").alias("b"))
    )
    s = own.join(other, "vec_id").select(
        "cluster_id",
        # identical points (a = b = 0) take silhouette 0, the scikit-learn
        # convention — the bare ratio was an ANSI divide-by-zero there
        F.round(
            F.when(
                F.greatest(F.col("a"), F.col("b")) > 0,
                (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")),
            ).otherwise(F.lit(0.0))
            * 1e6,
            0,
        )
        .cast("long")
        .alias("s_um"),
    )
    return s.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.sum("s_um").cast("double") / F.count("*") / 1e6, 6).alias(
            "mean_silhouette_r"
        ),
    )


def _semdedup_silhouette_sql() -> str:
    cos = cosine_sql("e.embedding", "c.cvec")
    return f"""
WITH cent AS MATERIALIZED (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY md5(vec_id::varchar), vec_id LIMIT 8
),
assign0 AS MATERIALIZED (
  SELECT e.vec_id, c.cid,
         round({cos}, 6) AS sim,
         1.0 - round({cos}, 6) AS dist
  FROM embeddings e CROSS JOIN cent c
),
assigned AS MATERIALIZED (
  SELECT vec_id, cid AS cluster_id, dist AS a FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cid ASC) AS rn
    FROM assign0
  ) WHERE rn = 1
),
other AS (
  SELECT s.vec_id, min(s.dist) AS b
  FROM assign0 s JOIN assigned a ON s.vec_id = a.vec_id
  WHERE s.cid <> a.cluster_id GROUP BY s.vec_id
),
scores AS (
  SELECT a.cluster_id,
         round(CASE WHEN greatest(a.a, o.b) > 0
             THEN (o.b - a.a) / greatest(a.a, o.b) ELSE 0.0 END
           * 1e6, 0)::bigint AS s_um
  FROM assigned a JOIN other o ON a.vec_id = o.vec_id
)
SELECT cluster_id, count(*)::bigint AS n_vectors,
       round(sum(s_um)::double / count(*)::double / 1e6, 6) AS mean_silhouette_r
FROM scores GROUP BY cluster_id
"""


SEMDEDUP_SILHOUETTE_SQL = _semdedup_silhouette_sql()


def source_mmd_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-mean-discrepancy drift test between each source and the
    rest of the corpus, in hashed-feature space: every document becomes
    a 64-dimensional hashed token-count vector (the hashing-trick
    embedding of hashed_embedding_knn), and MMD^2 with the linear kernel
    is just |mean_vec(source) - mean_vec(rest)|^2 — computable entirely
    from per-dimension INTEGER count sums, no pairwise kernel matrix, no
    sampling. The sum runs over the FULL source x observed-dim lattice
    (sources x 64, both bounded): a dim where a source has zero tokens
    still contributes (0 - mean_rest)^2, which a join on observed
    (source, dim) pairs alone would silently drop (the Shapley
    missing-terms class). Per source: document counts and the rounded
    MMD against
    its complement, ranked so the most distribution-shifted sources
    surface first (the source-level drift gate a mixing pipeline runs
    before re-weighting). One explode pass, one (source, dim) aggregate,
    a 64-row-per-source reduction."""
    from hadoop_data_lake_spark.functions.hashing import md5_60bit

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # TWO corpus passes total (r9 scan-multiplicity audit): the doc
    # counts and the (source, dim) token counts are each checkpointed
    # (both bounded: sources, sources x 64); the corpus total re-derives
    # from the per-source counts (doc_id is the PK, so distinct-overall
    # == sum of per-source distincts). The old shape re-scanned
    # documents for every lattice branch (4 scans).
    n_per_src = (
        docs.groupBy("source")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .localCheckpoint(eager=True)
    )
    tot_docs = n_per_src.agg(F.sum("nd").alias("ntot"))
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).select("source", (md5_60bit(F.col("token")) % 64).alias("dim"))
    per_src_dim = (
        toks.groupBy("source", "dim")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    per_dim = per_src_dim.groupBy("dim").agg(F.sum("c").alias("ct"))
    lattice = n_per_src.crossJoin(F.broadcast(per_dim))
    j = (
        lattice.join(F.broadcast(per_src_dim), ["source", "dim"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .crossJoin(F.broadcast(tot_docs))
    )
    mean_src = F.col("c").cast("double") / F.col("nd").cast("double")
    # nullif: a single-source corpus has no complement to compare against
    # — MMD undefined, not an ANSI divide-by-zero (r8 degenerate sweep)
    mean_rest = (F.col("ct") - F.col("c")).cast("double") / F.nullif(
        F.col("ntot") - F.col("nd"), F.lit(0)
    ).cast("double")
    diff2_um = F.round((mean_src - mean_rest) * (mean_src - mean_rest) * 1e6, 0).cast(
        "long"
    )
    return (
        j.select("source", "nd", diff2_um.alias("d_um"))
        .groupBy("source", "nd")
        .agg(
            F.round(F.sum("d_um").cast("double") / 1e6, 6).alias("mmd2_r")
        )
        .select(F.col("source"), F.col("nd").alias("n_docs"), "mmd2_r")
    )


def _source_mmd_sql() -> str:
    from hadoop_data_lake_spark.functions.hashing import md5_60bit_sql

    h = md5_60bit_sql("u.token")
    return f"""
WITH n_per_src AS (
  SELECT source, count(DISTINCT doc_id)::bigint AS nd FROM documents GROUP BY source
),
tot AS (SELECT count(DISTINCT doc_id)::bigint AS ntot FROM documents),
toks AS (
  SELECT d.source, {h} % 64 AS dim
  FROM documents d, unnest(string_split(d.text, ' ')) AS u(token)
),
per_src_dim AS (
  SELECT source, dim, count(*)::bigint AS c FROM toks GROUP BY source, dim
),
per_dim AS (SELECT dim, sum(c)::bigint AS ct FROM per_src_dim GROUP BY dim),
-- full source x observed-dim lattice: zero-count cells still contribute
j AS (
  SELECT n.source, n.nd, t.ntot,
         round((coalesce(s.c, 0)::double / n.nd::double
                - (p.ct - coalesce(s.c, 0))::double / nullif(t.ntot - n.nd, 0)::double)
               * (coalesce(s.c, 0)::double / n.nd::double
                  - (p.ct - coalesce(s.c, 0))::double / nullif(t.ntot - n.nd, 0)::double) * 1e6, 0)::bigint
           AS d_um
  FROM n_per_src n
  CROSS JOIN per_dim p
  LEFT JOIN per_src_dim s ON s.source = n.source AND s.dim = p.dim
  CROSS JOIN tot t
)
SELECT source, min(nd)::bigint AS n_docs,
       round(sum(d_um)::double / 1e6, 6) AS mmd2_r
FROM j GROUP BY source
"""


SOURCE_MMD_HASHED_SQL = _source_mmd_sql()


def fightin_words_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe et al.'s 'fightin' words': which tokens most distinguish
    source src0 from the rest of the corpus, by log-odds-ratio with an
    informative Dirichlet prior (the corpus itself, scaled to alpha0 =
    500 pseudo-counts) and per-token z-scoring — the method that fixes
    both raw-PMI's rare-token inflation and chi-square's length bias.
    Counts are integers end to end; each token's delta and variance are
    closed-form double expressions; top-10 by |z| via
    TakeOrderedAndProject."""
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    # eager-checkpoint the vocab-bounded count table (r11): the corpus
    # totals and the scoring join both consume it (2 corpus explodes -> 1)
    counts = (
        toks.groupBy("token")
        .agg(
            F.sum((F.col("source") == "src0").cast("long")).alias("a"),
            F.count("*").alias("tot"),
        )
        .withColumn("b", F.col("tot") - F.col("a"))
        .localCheckpoint(eager=True)
    )
    sums = counts.agg(
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
        F.sum("tot").alias("nt"),
    )
    j = counts.crossJoin(F.broadcast(sums))
    alpha0 = 500.0
    aw = alpha0 * F.col("tot").cast("double") / F.col("nt").cast("double")
    la = F.log(
        (F.col("a").cast("double") + aw)
        / (F.col("na").cast("double") + alpha0 - F.col("a").cast("double") - aw)
    )
    lb = F.log(
        (F.col("b").cast("double") + aw)
        / (F.col("nb").cast("double") + alpha0 - F.col("b").cast("double") - aw)
    )
    delta = la - lb
    var = 1.0 / (F.col("a").cast("double") + aw) + 1.0 / (
        F.col("b").cast("double") + aw
    )
    scored = j.select(
        "token",
        F.col("a").alias("n_src0"),
        F.col("b").alias("n_rest"),
        F.round(delta, 6).alias("log_odds_r"),
        F.round(delta / F.sqrt(var), 6).alias("z_r"),
    )
    return scored.orderBy(
        F.abs(F.col("z_r")).desc(), F.col("token").asc()
    ).limit(10)


FIGHTIN_WORDS_TOKENS_SQL = """
WITH toks AS (
  SELECT source, u.token
  FROM documents, unnest(string_split(text, ' ')) AS u(token)
  WHERE u.token <> ''
),
counts AS (
  SELECT token, sum((source = 'src0')::bigint)::bigint AS a,
         count(*)::bigint AS tot
  FROM toks GROUP BY token
),
sums AS (
  SELECT sum(a)::bigint AS na, sum(tot - a)::bigint AS nb,
         sum(tot)::bigint AS nt
  FROM counts
),
scored AS (
  SELECT c.token, c.a AS n_src0, (c.tot - c.a) AS n_rest,
         round(ln((c.a::double + 500.0 * c.tot::double / s.nt::double)
                  / (s.na::double + 500.0 - c.a::double
                     - 500.0 * c.tot::double / s.nt::double))
               - ln(((c.tot - c.a)::double + 500.0 * c.tot::double / s.nt::double)
                    / (s.nb::double + 500.0 - (c.tot - c.a)::double
                       - 500.0 * c.tot::double / s.nt::double)), 6) AS log_odds_r,
         round((ln((c.a::double + 500.0 * c.tot::double / s.nt::double)
                   / (s.na::double + 500.0 - c.a::double
                      - 500.0 * c.tot::double / s.nt::double))
                - ln(((c.tot - c.a)::double + 500.0 * c.tot::double / s.nt::double)
                     / (s.nb::double + 500.0 - (c.tot - c.a)::double
                        - 500.0 * c.tot::double / s.nt::double)))
               / sqrt(1.0 / (c.a::double + 500.0 * c.tot::double / s.nt::double)
                      + 1.0 / ((c.tot - c.a)::double
                               + 500.0 * c.tot::double / s.nt::double)), 6) AS z_r
  FROM counts c, sums s
)
SELECT token, n_src0, n_rest, log_odds_r, z_r
FROM scored ORDER BY abs(z_r) DESC, token ASC LIMIT 10
"""


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve + Heaps-law exponent: streaming the corpus
    in doc_id order, V(n) = distinct tokens among the first n token
    positions is sampled at ten 10%-checkpoints, and the Heaps exponent
    beta comes from the log-log OLS slope over those points (V ~ K n^b;
    sublinear beta < 1 is the universal corpus signature; the number a
    tokenizer-vocabulary plan extrapolates from). Global token positions
    come from the pack_sequences prefix machinery (doc offsets by
    two-phase prefix sum + within-doc posexplode); first occurrences are
    one min-aggregate; the tiny 10-point regression quantizes each
    log-log point to micro-units before the moment sums so the fit is
    engine-exact."""
    from hadoop_data_lake_spark.operators.packing import token_prefix_sum

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    with_counts = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
    ).select("doc_id", "toks", F.size("toks").cast("long").alias("n_toks"))
    offs = token_prefix_sum(with_counts, "doc_id", "n_toks").select(
        "doc_id", "toks", (F.col("cum") - F.col("n_toks")).alias("off")
    )
    positions = offs.select(
        "off", F.posexplode("toks").alias("p", "token")
    ).select((F.col("off") + F.col("p")).alias("pos"), "token").where(
        F.col("token") != ""
    )
    firsts = positions.groupBy("token").agg(F.min("pos").alias("first_pos"))
    n_total = positions.count()
    cps = local_frame(
        spark, [(k, -(-n_total * k // 10)) for k in range(1, 11)], "k INT, n BIGINT"
    )
    curve = (
        firsts.crossJoin(F.broadcast(cps))
        .where(F.col("first_pos") < F.col("n"))
        .groupBy("k", "n")
        .agg(F.count("*").alias("v"))
    )
    pts = curve.select(
        "k",
        "n",
        "v",
        F.round(F.log(F.col("n").cast("double")) * 1e6, 0).cast("long").alias("lx"),
        F.round(F.log(F.col("v").cast("double")) * 1e6, 0).cast("long").alias("ly"),
    )
    mom = pts.agg(
        F.count("*").alias("m"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    m = F.col("m").cast("double")
    beta = (
        (m * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
        / (m * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
    )
    fit = mom.select(F.round(beta, 6).alias("heaps_beta_r"))
    return pts.crossJoin(F.broadcast(fit)).select(
        "k", "n", F.col("v").alias("vocab"), "heaps_beta_r"
    )


HEAPS_LAW_FIT_SQL = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
with_counts AS (
  SELECT doc_id, toks, len(toks)::bigint AS n_toks FROM docs
),
offs AS (
  SELECT doc_id, toks,
         sum(n_toks) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks AS off
  FROM with_counts
),
positions AS (
  SELECT pos, token FROM (
    SELECT off + generate_subscripts(toks, 1) - 1 AS pos,
           unnest(toks) AS token
    FROM offs
  ) WHERE token <> ''
),
firsts AS (SELECT token, min(pos)::bigint AS first_pos FROM positions GROUP BY token),
tot AS (SELECT count(*)::bigint AS n_total FROM positions),
cps AS (
  SELECT k.k, ceil(tot.n_total * k.k / 10.0)::bigint AS n
  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) k(k), tot
),
curve AS (
  SELECT c.k, c.n, count(*)::bigint AS v
  FROM firsts f JOIN cps c ON f.first_pos < c.n
  GROUP BY c.k, c.n
),
pts AS (
  SELECT k, n, v,
         round(ln(n::double) * 1e6, 0)::bigint AS lx,
         round(ln(v::double) * 1e6, 0)::bigint AS ly
  FROM curve
),
mom AS (
  SELECT count(*)::bigint AS m, sum(lx)::bigint AS sx, sum(ly)::bigint AS sy,
         sum(lx * ly)::bigint AS sxy, sum(lx * lx)::bigint AS sxx
  FROM pts
),
fit AS (
  SELECT round((m::double * sxy::double - sx::double * sy::double)
               / (m::double * sxx::double - sx::double * sx::double), 6)
           AS heaps_beta_r
  FROM mom
)
SELECT pts.k, pts.n, pts.v AS vocab, fit.heaps_beta_r
FROM pts, fit
"""
