"""Extension queries — LLM-data-pipeline operators (BASELINE.json scope):
dedup (exact/MinHash/SimHash/n-gram/embedding), similarity search, text
analysis, multimodal columns. Same oracle conventions as queries.py.
Every query here is value-hash oracle-checked except
``rolling_fingerprints`` (xxhash64 rolling fold — not reproducible in
DuckDB; its exact twin ``doc_fingerprints`` is checked): MinHash is
checked against the exact all-pairs shingle-Jaccard set, SimHash runs
the md5-portable hash so DuckDB recomputes identical fingerprints, and
the approximate operators (IVF, sketches) output exact anchors plus
in-query tolerance certificates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import cells
from .dedup import components as dedup_components
from .dedup import exact as dedup_exact
from .dedup import embedding as dedup_emb
from .dedup import minhash as dedup_minhash
from .dedup import ngram as dedup_ngram
from .dedup import simhash as dedup_simhash
from .functions import text as textfn
from .functions import veclit
from .multimodal import binarycol
from .operators import sampling
from .registry import quantize, query, sql_quantize
from .similarity import brute as sim_brute
from .similarity import lsh as sim_lsh
from .tables import load_table

# SQL fragment: whitespace tokens of trimmed text (DuckDB side).
_SQL_TOKS = "regexp_split_to_array(trim(text), '\\s+')"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_stats",
    f"""
    SELECT lang,
           floor((avg(len({_SQL_TOKS}))) * 100 + 0.5) / 100.0 AS avg_tokens,
           floor((avg(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')))) * 100 + 0.5) / 100.0 AS avg_bpe_tokens,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) per language —
    the text-analysis operator set over `documents`."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy("lang").agg(
        quantize(F.avg(textfn.token_count("text")), "avg_tokens"),
        quantize(F.avg(textfn.bpe_ish_token_count("text")), "avg_bpe_tokens"),
        F.max("n_chars").alias("max_chars"),
        F.count("*").alias("n_docs"),
    )


@query(
    "text_quality",
    f"""
    WITH scored AS (
        SELECT source,
               (CASE WHEN len({_SQL_TOKS}) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END
                + CASE WHEN len(list_filter({_SQL_TOKS},
                        x -> list_contains(['the','a','of','and','to'], x)))
                       >= 0.01 * greatest(len({_SQL_TOKS}), 1) THEN 1.0 ELSE 0.0 END
                + CASE WHEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                       <= 0.3 * greatest(length(text), 1) THEN 1.0 ELSE 0.0 END) / 3.0
               AS q
        FROM documents
    )
    SELECT source,
           floor((q) * 100 + 0.5) / 100.0 AS quality,
           count(*) AS n_docs
    FROM scored GROUP BY 1, 2
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length band / stopword presence /
    punctuation ratio — C4/Gopher-style cheap filters), histogrammed
    per source."""
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select(
        "source", textfn.quality_score("text").alias("q")
    )
    return scored.groupBy("source", quantize(F.col("q"), "quality")).agg(
        F.count("*").alias("n_docs")
    )


@query(
    "lang_id",
    """
    WITH votes AS (
        SELECT lang,
               len(list_filter(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
                   x -> list_contains(['the','a','of','and','to'], x))) AS v_en,
               len(list_filter(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
                   x -> list_contains(['der','die','das','und','ist'], x))) AS v_de,
               len(list_filter(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
                   x -> list_contains(['le','la','les','et','est'], x))) AS v_fr,
               len(list_filter(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
                   x -> list_contains(['el','la','los','y','es'], x))) AS v_es,
               len(list_filter(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
                   x -> list_contains(['的','是','在','了','和'], x))) AS v_zh
        FROM documents
    ),
    guessed AS (
        SELECT lang,
               CASE WHEN greatest(v_en, v_de, v_es, v_fr, v_zh) = 0 THEN 'und'
                    WHEN v_de = greatest(v_en, v_de, v_es, v_fr, v_zh) THEN 'de'
                    WHEN v_en = greatest(v_en, v_de, v_es, v_fr, v_zh) THEN 'en'
                    WHEN v_es = greatest(v_en, v_de, v_es, v_fr, v_zh) THEN 'es'
                    WHEN v_fr = greatest(v_en, v_de, v_es, v_fr, v_zh) THEN 'fr'
                    ELSE 'zh' END AS lang_guess
        FROM votes
    )
    SELECT lang, lang_guess, count(*) AS n_docs FROM guessed GROUP BY 1, 2
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword votes, deterministic tie-break by
    language code) — confusion counts vs the labeled lang column."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("lang", textfn.lang_guess("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "doc_fingerprints",
    f"""
    SELECT source,
           count(DISTINCT md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')))
               AS n_fingerprints,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 of the sorted distinct token set —
    duplicate-content collision counting per source."""
    docs = dedup_exact.with_fingerprint(load_table(spark, "documents", sf_dir))
    return docs.groupBy("source").agg(
        F.count_distinct("fingerprint").alias("n_fingerprints"),
        F.count("*").alias("n_docs"),
    )


@query(
    "rolling_fingerprints",
    r"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(regexp_split_to_array(trim(text), '\s+'),
                 t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT))),
             (a, v) -> (a * 1000003 + v) % 2147483647
           ) AS fingerprint
    FROM documents
    """,
)
def rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling fingerprint: (h·B + md5₄₈(token)) mod P
    folded over the token sequence — the portable form, bit-identical in
    any engine with md5 (the xxhash64 fold,
    text.rolling_fingerprint, is the faster engine-native variant of
    the same shape). Word-order sensitivity is the point: re-shuffled
    copies of a document get DIFFERENT fingerprints (content_fingerprint
    is the order-insensitive twin)."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id", textfn.portable_rolling_fingerprint("text").alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@query(
    "exact_dedup",
    f"""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' '))
    """,
)
def exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup — hash-groupBy on the content fingerprint, keep the
    min doc_id (deterministic). Returns kept ids + copy counts."""
    docs = dedup_exact.with_fingerprint(load_table(spark, "documents", sf_dir))
    return docs.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    ).drop("fingerprint")


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH base AS (
        SELECT doc_id, lang, list_distinct({_SQL_TOKS}) AS toks,
               len(list_distinct({_SQL_TOKS})) AS n_toks
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           floor((len(list_intersect(a.toks, b.toks))::DOUBLE
                  / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE) * 10000 + 0.5) / 10000.0
               AS jaccard
    FROM base a JOIN base b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND b.n_toks BETWEEN a.n_toks * 0.8 AND a.n_toks * 1.2
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE >= 0.35
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/token-set Jaccard near-dup pairs with deterministic
    (lang, length) blocking — the exact, oracle-checkable twin of the
    MinHash path. Its edge set is the unblocked definition and differs
    on purpose from the cell-restricted edges of the near_dup_clusters
    family (see _SQL_CELLED_BASE)."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup_ngram.jaccard_pairs_blocked(
        docs, block_cols=("lang",), length_tolerance=0.2, threshold=0.35
    )
    return pairs.select("id_a", "id_b", quantize(F.col("jaccard"), "jaccard", 4))


# Exact 3-token-shingle Jaccard over ALL pairs (no LSH): the oracle for
# the MinHash path. Spark hashes shingles to int64 (xxhash64 of the
# token struct) while the oracle joins shingle STRINGS — Jaccard only
# needs set sizes, and whitespace tokens make the ' '-join bijective, so
# the two agree exactly (modulo ~1e-11 31-bit collisions). The CASE arm
# mirrors shingle_hashes' short-doc fallback (< k tokens → one shingle).
_SQL_MINHASH_EXACT = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ), sh AS (
      SELECT doc_id, CASE WHEN len(t) >= 3
        THEN list_distinct(list_transform(generate_series(1, len(t)-2),
                                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE [array_to_string(t, ' ')] END AS s
      FROM toks
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           floor((len(list_intersect(a.s,b.s))::DOUBLE
                  / len(list_distinct(list_concat(a.s,b.s)))::DOUBLE) * 10000 + 0.5)
             / 10000.0 AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s,b.s))::DOUBLE
          / len(list_distinct(list_concat(a.s,b.s)))::DOUBLE >= 0.35
"""


@query("minhash_near_dup", _SQL_MINHASH_EXACT)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs verified by exact Jaccard ≥ 0.35.

    Oracle-checked against the exact ALL-PAIRS shingle-Jaccard set
    (no LSH): hash equality asserts the full pipeline — shingling,
    banding recall AND the verification stage — because every exact
    pair the LSH missed, or false candidate the verifier kept, breaks
    the match. Recall at the observed pair similarities (J ≥ 0.9 on
    this corpus) is 1 − (1 − s⁴)¹⁶ ≈ 1-2e-8 per pair, so the check is
    stable, not luck."""
    docs = load_table(spark, "documents", sf_dir)
    out = dedup_minhash.verified_near_dups(
        docs, k=3, num_hashes=64, bands=16, jaccard_threshold=0.35
    )
    return out.select("id_a", "id_b", quantize(F.col("jaccard"), "jaccard", 4))


def _sql_vote_fold(indent: str) -> tuple[str, str]:
    """DuckDB twin of simhash.vote_fold over 60-bit hashes ``h``: the
    per-bit vote counts (one select-list item per line, joined at
    ``indent``) for a per-doc GROUP BY that also yields n = count(*),
    and the fingerprint expression over them."""
    bits = range(dedup_simhash.BITS_MD5)
    csum = f",\n{indent}".join(f"sum((h >> {i}) & 1) AS c{i}" for i in bits)
    fp = " + ".join(f"(CASE WHEN c{i}*2 > n THEN {1 << i} ELSE 0 END)" for i in bits)
    return csum, fp


def _sql_simhash_pairs(radius: int) -> str:
    """DuckDB twin of the md5-portable SimHash pipeline: same 60-bit
    md5-prefix token hash, same majority-vote fingerprint, all pairs
    with popcount(xor) ≤ radius — bit-identical to the Spark side, so
    the driver's value-hash compares the COMPLETE pair set."""
    csum, fp = _sql_vote_fold(" " * 13)
    return rf"""
    WITH tok AS (
      -- null-text docs excluded, mirroring the Spark fingerprint
      -- builder (no text => no fingerprint => no pair)
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents WHERE text IS NOT NULL
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
    ), cnt AS (
      SELECT doc_id, count(*) AS n,
             {csum}
      FROM h GROUP BY doc_id
    ), fp AS (
      SELECT doc_id, ({fp})::BIGINT AS fp FROM cnt
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.fp, b.fp)) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= {radius}
    """


@query("simhash_near_dup", _sql_simhash_pairs(12))
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 12 via pigeonhole band
    blocking — exact recall by construction). Uses the md5-portable
    60-bit hash so the ORACLE recomputes the identical fingerprints in
    SQL and the full pair set is value-checked; the xxhash64 default in
    dedup/simhash.py remains the scale path (hash choice does not
    change the algorithm, only reproducibility across engines).
    ``max_bucket=None`` because the oracle has no bucket cap: radius 12
    → 4-bit bands (16 keys), so a capped run WOULD silently drop pairs
    on a bigger corpus and hash-mismatch (see simhash_near_dups
    docstring for when a cap is appropriate)."""
    docs = load_table(spark, "documents", sf_dir)
    return dedup_simhash.simhash_near_dups(
        docs, radius=12, hash_fn="md5_60", max_bucket=None
    )


@query(
    "embedding_near_dup",
    """
    WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((list_cosine_similarity(a.v, b.v)) * 10000 + 0.5) / 10000.0 AS cos
    FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.3
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (cos ≥ 0.3 —
    testdata embeddings are near-orthogonal random vectors, so the
    threshold is set where pairs exist)."""
    emb = load_table(spark, "embeddings", sf_dir)
    pairs = dedup_emb.cosine_near_dups(emb, threshold=0.3)
    return pairs.select("id_a", "id_b", quantize(F.col("cos"), "cos", 4))


# ---------------------------------------------------------------------------
# Similarity search (ANN)
# ---------------------------------------------------------------------------


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fetch the query vector (single-row driver lookup — the one
    permissible collect: k·dim floats, not data)."""
    row = (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row["embedding"]]


def _exact_cosine_topk(
    spark: SparkSession, sf_dir: str, qv: list[float], k: int = 10
) -> DataFrame:
    """Exact cosine top-k (vec_id, cos) against ``qv`` — the shared
    baseline of ann_cosine_topk / ann_ivf_topk / semantic_search_meta.
    One definition so the quantization (4 decimals) and the tie-break
    (quantized cos desc, vec_id asc) cannot drift between the three
    queries' Spark sides — their DuckDB oracles assume all of it."""
    emb = load_table(spark, "embeddings", sf_dir)
    scored = emb.select(
        "vec_id",
        quantize(
            dedup_emb.cosine(
                F.col("embedding").cast("array<double>"),
                veclit.double_array_lit(qv),
            ),
            "cos",
            4,
        ),
    )
    return scored.orderBy(F.desc("cos"), F.col("vec_id")).limit(k)


@query(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id,
               floor((list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q))) * 10000 + 0.5) / 10000.0 AS cos
        FROM embeddings
    )
    SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against vec_id=0 — the exact ANN
    baseline (one scan + TakeOrderedAndProject; ordering on the
    quantized score so both engines break ties identically)."""
    return _exact_cosine_topk(spark, sf_dir, _query_vec(spark, sf_dir))


@query(
    "ann_lsh_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    bucketed AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
              + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END
              + CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END
              + CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END) AS bucket
        FROM embeddings
    ),
    qb AS (SELECT bucket AS qbucket FROM bucketed WHERE vec_id = 0)
    SELECT vec_id,
           floor((list_cosine_similarity(v, (SELECT qv FROM q))) * 10000 + 0.5) / 10000.0 AS cos
    FROM bucketed WHERE bucket = (SELECT qbucket FROM qb)
    ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (6 sign bits, single-probe): exact cosine
    within the query's bucket only — the scale path (bucket predicate
    prunes ~1/64 of a bucket-partitioned table)."""
    qv = _query_vec(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    # quantize_decimals=4: the oracle ORDER BYs the quantized cos, so the
    # top-k cut must happen on the quantized value too — cutting raw then
    # quantizing keeps the wrong row when two scores quantize equal at
    # the k boundary.
    out = sim_lsh.lsh_cosine_topk(emb, qv, k=10, n_bits=6, n_probes=1, quantize_decimals=4)
    return out.orderBy(F.desc("cos"), F.col("vec_id"))


# ---------------------------------------------------------------------------
# Multimodal binary columns
# ---------------------------------------------------------------------------


@query(
    "multimodal_meta",
    """
    SELECT source,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           count(DISTINCT sha256(text)) AS n_distinct_payloads,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload columns with typed metadata (media_type/n_bytes/
    sha256): per-source byte totals + distinct-payload counts. The
    payload here is UTF-8 text bytes; the plumbing is byte-identical for
    image/audio payloads."""
    docs = binarycol.attach_binary_payload(load_table(spark, "documents", sf_dir))
    return docs.groupBy("source").agg(
        F.sum(F.col("media_meta.n_bytes")).alias("total_bytes"),
        F.count_distinct(F.col("media_meta.sha256")).alias("n_distinct_payloads"),
        F.count("*").alias("n_docs"),
    )


@query(
    "image_features",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) % 640 + 16 AS INTEGER) AS width,
           CAST(octet_length(encode(text)) % 480 + 16 AS INTEGER) AS height,
           3 AS n_channels
    FROM documents
    """,
)
def image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed decode/feature-extract over binary payloads via
    Arrow-batched mapInPandas (deterministic fake decoder — real codecs
    absent; see multimodal.binarycol). The oracle reproduces the fake's
    arithmetic, validating the mapInPandas plumbing end-to-end."""
    docs = binarycol.attach_binary_payload(load_table(spark, "documents", sf_dir))
    out = binarycol.extract_image_features(docs, fake_decoder=True)
    return out.select(
        "doc_id", "width", "height", F.col("n_channels").cast("int").alias("n_channels")
    )


@query(
    "frame_sample",
    """
    SELECT doc_id, CAST(unnest(range(0, octet_length(encode(text)) % 300 + 1, 10)) AS INTEGER) AS frame_idx
    FROM documents
    """,
)
def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out shape (1 row in → N frame rows out)
    over the binary payload; frame count faked from payload size."""
    docs = binarycol.attach_binary_payload(load_table(spark, "documents", sf_dir))
    out = binarycol.frame_sample_plan(docs, every_nth=10)
    return out.select("doc_id", F.col("frame_idx").cast("int").alias("frame_idx"))


@query(
    "ann_ivf_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id,
               floor((list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q))) * 10000 + 0.5) / 10000.0 AS cos
        FROM embeddings
    )
    SELECT vec_id, cos, TRUE AS ivf_recall_ok
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN recall certificate (similarity/ivf.py): k-means
    cells (fixed seed), exact cosine within the query's nearest probe
    cells. An approximate index's own top-k is not oracle-able by
    value, so the DRIVER-CHECKED output is the exact top-k (the brute
    baseline, which DuckDB recomputes) plus ``ivf_recall_ok`` — TRUE
    iff the REAL IVF result recalls ≥ 5 of the exact top-10 (the same
    floor tests/test_similarity.py pins). A recall regression flips the
    boolean and fails the driver's value-hash — strictly stronger than
    the previous rows-only check, and the IVF path still executes."""
    from .similarity import ivf

    qv = _query_vec(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    cents = ivf.train_centroids(emb, n_cells=8, max_train_rows=20_000)
    # index BUILD: cell-partitioned layout (process-private dir — a
    # FIXED path raced concurrent drive/test processes overwriting the
    # index mid-read), so the probe filter PRUNES PARTITIONS instead of
    # re-assigning cells over the full table per query — the measured
    # form of the module's 100 TB claim (same pattern as IVF-PQ)
    from .queries_src import _fresh_dir

    cells = ivf.materialize_cells(
        emb, cents, os.path.join(_fresh_dir("ivfflat", sf_dir), "cells")
    )
    ivf_out = ivf.ivf_topk(cells, cents, qv, k=10, n_probes=3).select("vec_id")
    exact = _exact_cosine_topk(spark, sf_dir, qv)
    # lazy recall certificate: a 1-row broadcast aggregate, not a
    # construction-time .count() (which would execute training + both
    # top-k's before the DataFrame is even returned)
    hits = (
        exact.join(ivf_out, "vec_id", "left_semi")
        .agg(F.count("*").alias("__n_hit"))
    )
    return (
        exact.crossJoin(F.broadcast(hits))
        .withColumn("ivf_recall_ok", F.col("__n_hit") >= 5)
        .drop("__n_hit")
    )


@query(
    "ann_ivfpq_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id,
               floor((list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q))) * 10000 + 0.5) / 10000.0 AS cos
        FROM embeddings
    )
    SELECT vec_id, cos, TRUE AS pq_recall_ok
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN recall certificate (similarity/pq.py) — the memory-
    scale step past IVF-Flat: per-subspace codebooks over cell
    residuals, ADC scoring over the m-byte CODES relation only (LUTs
    as plan literals, full vectors untouched), then exact re-rank of
    the k·refine shortlist via a broadcast id join against the vector
    table. Like ann_ivf_topk, the approximate result itself is not
    value-oracle-able, so the DRIVER-CHECKED output is the exact
    top-10 plus ``pq_recall_ok`` — TRUE iff the real two-stage IVF-PQ
    result recalls ≥ 5 of the exact top-10 (fixed seeds make the whole
    pipeline deterministic; measured 0.7 at sf0.01). A recall
    regression flips the boolean and fails the value-hash while the
    PQ path still executes end to end.

    100 TB: the ADC scan reads m bytes/row over n_probes/n_cells of
    the codes table; the only full-vector reads are the
    shortlist-bounded re-rank joins — O(k·refine), independent of
    table size."""
    from .similarity import ivf, pq

    qv = _query_vec(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    cents = ivf.train_centroids(emb, n_cells=8, max_train_rows=20_000)
    books = pq.train_pq(emb, cents, m=4, ksub=16)
    # index BUILD: Arrow-vectorized encode, materialized cell-
    # partitioned (the real index layout — the ADC probe filter prunes
    # partitions). Process-private dir via _fresh_dir: a FIXED per-sf
    # path raced concurrent drive/test processes (one overwrites the
    # index while the other reads it mid-query); _fresh_dir replaces
    # the previous call's dir within a process, so repeat bench runs
    # don't accumulate either.
    from .queries_src import _fresh_dir

    codes = pq.materialize_codes(
        pq.encode_pq_arrow(emb, cents, books),
        os.path.join(_fresh_dir("ivfpq", sf_dir), "codes"),
    )
    pq_out = pq.ivfpq_topk(
        codes, emb, cents, books, qv, k=10, n_probes=4, refine=6
    ).select("vec_id")
    exact = _exact_cosine_topk(spark, sf_dir, qv)
    hits = (
        exact.join(pq_out, "vec_id", "left_semi")
        .agg(F.count("*").alias("__n_hit"))
    )
    return (
        exact.crossJoin(F.broadcast(hits))
        .withColumn("pq_recall_ok", F.col("__n_hit") >= 5)
        .drop("__n_hit")
    )


# build-once-per-process IVF-PQ serving index, keyed by sf_dir: the
# serving analog of bm25_index_search's lifecycle/serve split. The
# training + encode + cell-partitioned write run on FIRST use; every
# later call is probe-only (ADC over the pruned codes partitions +
# shortlist re-rank) — what a query node actually pays per request.
_IVFPQ_SERVING: dict = {}


def _ivfpq_serving_index(spark: SparkSession, sf_dir: str):
    from .similarity import ivf, pq

    if sf_dir not in _IVFPQ_SERVING:
        import atexit
        import shutil
        import tempfile

        emb = load_table(spark, "embeddings", sf_dir)
        cents = ivf.train_centroids(emb, n_cells=8, max_train_rows=20_000)
        books = pq.train_pq(emb, cents, m=4, ksub=16)
        d = tempfile.mkdtemp(prefix="dmps_ivfpq_serve_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        path = os.path.join(d, "codes")
        pq.materialize_codes(pq.encode_pq_arrow(emb, cents, books), path)
        _IVFPQ_SERVING[sf_dir] = (cents, books, path)
    cents, books, path = _IVFPQ_SERVING[sf_dir]
    return cents, books, spark.read.parquet(path)


@query(
    "ann_ivfpq_serve",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id,
               floor((list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q))) * 10000 + 0.5) / 10000.0 AS cos
        FROM embeddings
    )
    SELECT vec_id, cos, TRUE AS serve_recall_ok
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def ann_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ SERVING path — probes a PREBUILT index (r8 verdict task:
    ann_ivfpq_topk folds train+encode+write into every invocation, so
    the per-request cost a query node pays was invisible). The index
    artifacts (centroids, codebooks, cell-partitioned codes table) are
    built once per process by `_ivfpq_serving_index` and reused; this
    query is the request-time work only: per-cell LUT ADC over the
    partition-pruned codes relation, then exact re-rank of the
    shortlist via a broadcast id join. Same recall certificate as the
    lifecycle query: driver-checked output is the exact top-10 plus
    ``serve_recall_ok`` (real serve path recalls ≥ 5 of 10). Bench's
    min-of-3 re-timing reports the warm serve-only latency.

    100 TB: request cost is O(codes in n_probes cells) + O(k·refine)
    full-vector reads — independent of corpus size and of index build
    cost, which amortizes across every query between refreshes."""
    from .similarity import pq

    qv = _query_vec(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    cents, books, codes = _ivfpq_serving_index(spark, sf_dir)
    pq_out = pq.ivfpq_topk(
        codes, emb, cents, books, qv, k=10, n_probes=4, refine=6
    ).select("vec_id")
    exact = _exact_cosine_topk(spark, sf_dir, qv)
    hits = (
        exact.join(pq_out, "vec_id", "left_semi")
        .agg(F.count("*").alias("__n_hit"))
    )
    return (
        exact.crossJoin(F.broadcast(hits))
        .withColumn("serve_recall_ok", F.col("__n_hit") >= 5)
        .drop("__n_hit")
    )


@query(
    "ann_index_incremental",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id,
               floor((list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q))) * 10000 + 0.5) / 10000.0 AS cos
        FROM embeddings
    )
    SELECT vec_id, cos, TRUE AS incr_recall_ok
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def ann_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF index maintenance (similarity/ivf.py:
    append_cells, r8): the index is built from 90% of the corpus, the
    remaining 10% arrives later and is appended by assigning ONLY the
    new batch to the frozen centroids (dynamic partition append —
    resident cells never read or rewritten). Self-asserting: the grown
    index holds exactly corpus-many rows (no loss, no duplication —
    checked per cell via the cell_sizes gauge vs a direct assignment
    recount, so a batch landing in the wrong cell fails even when
    totals match). Driver-checked output: the exact top-10 (DuckDB
    recomputes) plus ``incr_recall_ok`` — TRUE iff IVF search over the
    APPENDED index recalls ≥ 5 of the exact top-10, i.e. the certified
    search quality survives maintenance. The frozen-centroid drift
    caveat is documented on append_cells.

    100 TB: nightly-rebuild cost is O(corpus); append maintenance is
    O(new vectors) + one small-partition write — the difference between
    an index that keeps up with ingest and one that is always a day
    stale."""
    from .queries_src import _fresh_dir
    from .similarity import ivf

    qv = _query_vec(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    seed_part = emb.filter(F.col("vec_id") % 10 != 7)
    late_part = emb.filter(F.col("vec_id") % 10 == 7)
    cents = ivf.train_centroids(seed_part, n_cells=8, max_train_rows=20_000)
    path = os.path.join(_fresh_dir("ivfincr", sf_dir), "cells")
    ivf.materialize_cells(seed_part, cents, path)
    idx = ivf.append_cells(late_part, cents, path)
    # per-cell accounting: the appended index's cell sizes must equal a
    # direct full-corpus assignment's (wrong-cell appends fail here)
    want = (
        ivf.assign_cells(emb, cents).groupBy("cell").count()
        .withColumnRenamed("count", "want")
    )
    bad = (
        ivf.cell_sizes(idx)
        .join(want, "cell", "full")
        .filter(
            (F.col("count").isNull())
            | (F.col("want").isNull())
            | (F.col("count") != F.col("want"))
        )
    )
    if bad.limit(1).count():
        raise RuntimeError("incremental append broke per-cell accounting")
    # n_probes=4 (vs ann_ivf_topk's 3): centroids here are trained on
    # the 90% seed only, so the geometry is slightly coarser around the
    # late arrivals — one extra probe buys the certificate back (recall
    # 7/10 at sf0.01 vs 4/10 at 3 probes); the knob IS the documented
    # recall/latency trade
    ivf_out = ivf.ivf_topk(idx, cents, qv, k=10, n_probes=4).select("vec_id")
    exact = _exact_cosine_topk(spark, sf_dir, qv)
    hits = (
        exact.join(ivf_out, "vec_id", "left_semi")
        .agg(F.count("*").alias("__n_hit"))
    )
    return (
        exact.crossJoin(F.broadcast(hits))
        .withColumn("incr_recall_ok", F.col("__n_hit") >= 5)
        .drop("__n_hit")
    )


@query(
    "audio_features",
    """
    SELECT doc_id,
           16000 AS sample_rate,
           (octet_length(encode(text)) % 600) / 10.0 AS duration_s,
           CAST((octet_length(encode(text)) % 600) * 1600 AS BIGINT) AS n_samples
    FROM documents
    """,
)
def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode/feature-extract plumbing over binary payloads
    (Arrow-batched mapInPandas; deterministic fake decoder — codecs
    absent). Oracle mirrors the fake's arithmetic."""
    docs = binarycol.attach_binary_payload(load_table(spark, "documents", sf_dir))
    out = binarycol.extract_audio_features(docs, fake_decoder=True)
    return out.select(
        "doc_id", F.col("sample_rate").cast("int").alias("sample_rate"),
        "duration_s", "n_samples",
    )


@query(
    "text_normalize",
    """
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{N}\\s]', '', 'g'),
                               '\\s+', ' ', 'g')) AS norm_text,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{N}\\s]', '', 'g'),
                                   '\\s+', ' ', 'g'))) AS norm_md5
    FROM documents
    WHERE doc_id < 50
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (lower → strip punctuation → collapse
    whitespace) with a content hash — the canonical pre-dedup transform
    (§2.I regex/lower/trim extensions)."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 50)
    norm = textfn.normalize("text")
    return docs.select("doc_id", norm.alias("norm_text"), F.md5(norm).alias("norm_md5"))


@query(
    "users_per_type",
    """
    SELECT event_type,
           array_to_string(list_sort(list(DISTINCT user_id)), ',') AS user_list,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set (§2.D gap list): distinct users per event type as a
    sorted list (serialized to string so both engines hash the same
    representation)."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.array_join(F.array_sort(F.collect_set("user_id")), ",").alias("user_list"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "image_resize",
    """
    WITH dims AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) % 640 + 16 AS INTEGER) AS width,
               CAST(octet_length(encode(text)) % 480 + 16 AS INTEGER) AS height
        FROM documents
    )
    SELECT doc_id, width, height,
           CAST(trunc(width * least(least(224.0 / width, 224.0 / height), 1.0)) AS INTEGER) AS out_width,
           CAST(trunc(height * least(least(224.0 / width, 224.0 / height), 1.0)) AS INTEGER) AS out_height,
           least(least(224.0 / width, 224.0 / height), 1.0) AS scale
    FROM dims
    """,
)
def image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize-to-fit (224 box) over binary payloads —
    decode+resize in one Arrow-batched mapInPandas pass; oracle mirrors
    the geometry arithmetic (decode dims faked from payload size)."""
    docs = binarycol.attach_binary_payload(load_table(spark, "documents", sf_dir))
    return binarycol.resize_images(docs, target=224, fake_decoder=True)


@query(
    "embedding_centroids",
    """
    SELECT label, dim,
           floor((avg(v)) * 10000 + 0.5) / 10000.0 AS mean_v,
           count(*) AS n_vectors
    FROM (
        SELECT label, unnest(embedding) AS v,
               CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim
        FROM embeddings
    )
    GROUP BY 1, 2
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes / IVF training
    step) via posexplode + hash aggregate — vector math as plain
    columnar aggregation, no driver collect (similarity/brute.py::
    label_centroids). 4-decimal quantization: values are ~N(0,1) floats,
    2 decimals would flatten them."""
    emb = load_table(spark, "embeddings", sf_dir)
    out = sim_brute.label_centroids(emb)
    return out.select(
        "label", "dim", quantize(F.col("mean_v"), "mean_v", 4), "n_vectors"
    )


# Simhash-cell blocked near-dup member relation (r12 re-scope, VERDICT
# r11 task 1 — the knn_graph playbook). The previous edge definition —
# exact Jaccard over ALL within-(lang, length-tolerance) pairs — is
# quadratic BY DEFINITION on a dense corpus (median within-block Jaccard
# here is 0.78 ⇒ the TRUE edge set is Θ(|block|²)); the r11 40× deep
# capture OOM'd its pair aggregate and was adjudicated as the engine's
# one remaining scale-killer. The blocked definition bounds the scored
# mass linearly via a closed-form cell both engines evaluate
# bit-identically (width rule and stamp: dedup/cells.py): the leading b
# bits of the md5-portable SET-simhash (majority vote over DISTINCT
# token hashes — identical token sets ⇒ identical fingerprints ⇒
# co-celled with probability 1, the structural exact-duplicate
# guarantee). Graded recall decays with J and is MEASURED
# (near_dup_blocking_recall), mirroring knn_graph/knn_graph_recall.
_SQL_CELL_CSUM, _SQL_CELL_FP = _sql_vote_fold(" " * 15)
_SQL_CELLED_BASE = f"""tok AS (
        SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS tok
        FROM documents WHERE text IS NOT NULL
    ), h AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
    ), cnt AS (
        SELECT doc_id, count(*) AS n,
               {_SQL_CELL_CSUM}
        FROM h GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, ({_SQL_CELL_FP})::BIGINT AS fp FROM cnt
    ), nb AS (
        SELECT {cells.cell_bits_sql()} AS b
        FROM fp
    ), base AS (
        SELECT d.doc_id, d.lang, list_distinct({_SQL_TOKS}) AS toks,
               len(list_distinct({_SQL_TOKS})) AS n_toks,
               fp.fp >> ({dedup_simhash.BITS_MD5} - nb.b) AS cell
        FROM documents d JOIN fp ON d.doc_id = fp.doc_id CROSS JOIN nb
    )"""

_SQL_NEAR_DUP_CLUSTERS = f"""
    WITH RECURSIVE {_SQL_CELLED_BASE}, pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM base a JOIN base b
          ON a.lang = b.lang AND a.cell = b.cell AND a.doc_id < b.doc_id
         AND b.n_toks BETWEEN a.n_toks * 0.8 AND a.n_toks * 1.2
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE >= 0.35
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ), reach(node, lab) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
"""


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup_ngram.jaccard_pairs_celled(
        docs, block_cols=("lang",), length_tolerance=0.2, threshold=0.35
    ).select("id_a", "id_b")


def _near_dup_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_components.connected_components(
        _near_dup_pairs(spark, sf_dir), id_alias="doc_id", comp_alias="cluster_id"
    )


@query("near_dup_clusters", _SQL_NEAR_DUP_CLUSTERS)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup GROUPS: iterative min-label propagation
    (dedup/components.py) over the simhash-cell-blocked exact-Jaccard
    pair graph (see the module comment above _SQL_CELLED_BASE for the
    blocked edge definition and why). The oracle is a DuckDB recursive
    CTE recomputing the identical blocking + scoring + transitive
    closure, so the ITERATIVE DataFrame algorithm AND the blocking are
    value-checked — not just rows-counted."""
    return _near_dup_members(spark, sf_dir)


@query(
    "near_dup_blocking_recall",
    f"""
    WITH {_SQL_CELLED_BASE}, probes AS (
        SELECT * FROM base WHERE doc_id < 1000
    ), truep AS (
        SELECT (a.cell = b.cell) AS comatch
        FROM probes a JOIN probes b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
         AND b.n_toks BETWEEN a.n_toks * 0.8 AND a.n_toks * 1.2
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE >= 0.35
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true,
           CAST(coalesce(sum(CASE WHEN comatch THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS hits,
           floor(coalesce(sum(CASE WHEN comatch THEN 1 ELSE 0 END), 0) * 10000.0
                 / greatest(count(*), 1) + 0.5) / 10000.0 AS pair_recall
    FROM truep
    """,
)
def near_dup_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL CERTIFICATE for the near_dup_clusters blocking (the
    measured-not-assumed rule every approximate entry follows, the
    knn_graph_recall shape): over a FIXED probe set (doc_id < 1000 —
    bounded at any scale, and amplified replicas sit at doc_id ≥ 10M so
    the probe set never grows), compare the UNBLOCKED exact edge set
    (every within-(lang, length-tolerance) pair with Jaccard ≥ 0.35 —
    the pre-r12 definition) against cell co-membership and emit ONE row
    (n_true, hits, pair_recall). Both sides are recomputed by the
    oracle, so the measured recall itself is value-checked cross-engine
    every round.

    Context for the number: this synthetic corpus is dedup-degenerate —
    the median within-block pair ALREADY has Jaccard 0.78, so 12% of all
    pairs are "true" near-dups at t = 0.35 and any bounded-mass blocking
    keeps roughly cell_size/block_size of them (measured ~0.02–0.17
    depending on SF). Recall is monotone in J — exact-duplicate pairs
    (J = 1) are co-celled with probability 1 by construction — which is
    the regime real dedup blocking operates in; the knob is
    cells.TARGET_CELL (bigger cells = more recall = proportionally more
    mass)."""
    docs = load_table(spark, "documents", sf_dir)
    nn = docs.filter(F.col("text").isNotNull())
    b = cells.cell_bits(nn.count())
    fp_bits = dedup_simhash.BITS_MD5
    toks, n, inter = dedup_ngram.hashed_token_sets("text")
    base = nn.select(
        F.col("doc_id").alias("id"),
        "lang",
        toks.alias("toks"),
        dedup_ngram.set_simhash_hashes("text").alias("__h"),
    ).select(
        "id",
        "lang",
        "toks",
        n.alias("n"),
        cells.cell_stamp(dedup_simhash.vote_fold("__h", fp_bits), fp_bits, b)
        .alias("cell"),
    )
    a, bs, cond = dedup_ngram.band_join_sides(
        base.filter(F.col("id") < 1000), ("lang",), 0.2, 0.35
    )
    truep = dedup_ngram.jaccard_filter(
        a.join(F.broadcast(bs), cond), inter, 0.35
    ).select((F.col("cell_a") == F.col("cell_b")).alias("comatch"))
    hits = F.coalesce(
        F.sum(F.when(F.col("comatch"), 1).otherwise(0)), F.lit(0)
    ).cast("long")
    return truep.agg(
        F.count("*").cast("long").alias("n_true"),
        hits.alias("hits"),
        (
            F.floor(
                hits * 10000.0 / F.greatest(F.count("*"), F.lit(1)) + F.lit(0.5)
            )
            / 10000.0
        ).alias("pair_recall"),
    )


@query(
    "near_dup_canonical",
    f"""
    WITH RECURSIVE members AS ({_SQL_NEAR_DUP_CLUSTERS})
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (
        SELECT doc_id FROM members WHERE doc_id <> cluster_id
    )
    """,
)
def near_dup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION: keep one canonical doc per near-dup cluster
    (the min doc_id), singletons untouched — left-anti join of documents
    against non-canonical members."""
    docs = load_table(spark, "documents", sf_dir)
    members = _near_dup_members(spark, sf_dir)
    kept = dedup_components.canonical_per_component(
        members, docs, id_col="doc_id", comp_col="cluster_id"
    )
    return kept.select("doc_id", "lang", "source")


@query(
    "top_tokens",
    f"""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 50
    """,
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: explode tokens -> count -> top-50 with a
    deterministic (count DESC, token) tie-break. The canonical corpus-
    statistics pass: one shuffle of (token, partial count) pairs thanks
    to map-side combine; top-k is TakeOrderedAndProject, never a global
    sort. At 100 TB the same plan holds — the shuffle carries one row
    per distinct token per map partition, not one per occurrence."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(textfn.tokens("text")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    return counts.orderBy(F.desc("n"), F.col("tok")).limit(50)


@query(
    "heavy_hitter_tokens",
    f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    top AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n
      FROM toks GROUP BY tok
      ORDER BY n DESC, tok LIMIT 20
    )
    SELECT tok, n,
           (SELECT count(*) FROM top) = 20
           AND (SELECT min(n) FROM top) * 1025
             > (SELECT CAST(count(*) AS BIGINT) FROM toks) AS guarantee_ok
    FROM top
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 tokens via the bounded-memory two-pass design
    (operators/heavy.py): per-partition Misra-Gries candidate sketches
    (cap=1024 counters, O(cap) memory regardless of vocabulary size),
    then an exact candidate-only recount. The `guarantee_ok` column
    certifies from measured quantities (exactly 20 candidates returned
    AND 20th count · (cap+1) > N) that the exact-top-k condition held —
    the oracle recomputes both the exact top-20 AND the certificate
    arithmetic.

    100 TB: `top_tokens`' groupBy shuffles one row per distinct token
    per map partition — fine for words, fatal for URL/n-gram keys with
    billions of distincts. Here the stream is never shuffled: pass 1
    is map-only (≤ cap+1 rows out per partition), pass 2 shuffles only
    the ≤ P·cap candidate recounts."""
    from .operators import heavy

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(textfn.tokens("text")).alias("tok"))
    return heavy.exact_topk(toks, "tok", k=20, cap=1024)


@query(
    "value_percentiles_approx",
    """
    SELECT event_type,
           floor((quantile_cont(value, 0.50)) * 100 + 0.5) / 100.0 AS p50,
           floor((quantile_cont(value, 0.90)) * 100 + 0.5) / 100.0 AS p90,
           floor((quantile_cont(value, 0.99)) * 100 + 0.5) / 100.0 AS p99,
           TRUE AS approx_within_rank_tol
    FROM events
    GROUP BY event_type
    """,
)
def value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile twin of value_percentiles — the one-pass
    mergeable-sketch form that replaces exact percentiles at 100 TB
    (exact materializes each group's values in the agg buffer; the
    sketch is O(1/accuracy) per group and combines map-side).

    A sketch's values are engine-specific, so the driver-checked output
    is the EXACT percentiles plus ``approx_within_rank_tol``: TRUE iff
    each approx value lands between the exact percentiles at q ∓ 0.01.
    Sound bound: accuracy 10000 guarantees rank error ≤ n/10000, far
    inside the ±1%-rank window, so a healthy sketch can never flip the
    boolean — but a broken one fails the driver's value-hash."""
    ev = load_table(spark, "events", sf_dir)
    qs = [0.49, 0.50, 0.51, 0.89, 0.90, 0.91, 0.98, 0.99, 1.00]
    agg = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({','.join(map(str, qs))}))").alias("ex"),
        F.expr("approx_percentile(value, array(0.50, 0.90, 0.99), 10000)").alias(
            "ap"
        ),
    )
    within = (
        F.col("ap")[0].between(F.col("ex")[0], F.col("ex")[2])
        & F.col("ap")[1].between(F.col("ex")[3], F.col("ex")[5])
        & F.col("ap")[2].between(F.col("ex")[6], F.col("ex")[8])
    )
    return agg.select(
        "event_type",
        quantize(F.col("ex")[1], "p50"),
        quantize(F.col("ex")[4], "p90"),
        quantize(F.col("ex")[7], "p99"),
        within.alias("approx_within_rank_tol"),
    )


@query(
    "stratified_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE ((doc_id % 99991) * 2654435761 + 7) % 10000 <
          CASE WHEN lang = 'en' THEN 5000 ELSE 2000 END
    """,
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling — keep 50% of English
    docs, 20% of every other language, membership a pure function of
    doc_id (operators/sampling.py). Portable affine gate so the oracle
    value-checks the exact kept set, not just a count."""
    docs = load_table(spark, "documents", sf_dir)
    out = sampling.stratified_sample(
        docs,
        strata_col="lang",
        fractions={"en": 0.5},
        gate=sampling.affine_gate("doc_id", salt=7),
        default_fraction=0.2,
    )
    return out.select("doc_id", "lang")


@query(
    "train_test_split_test",
    """
    SELECT doc_id, source
    FROM documents
    WHERE ((doc_id % 99991) * 2654435761 + 13) % 10000 < 1000
    """,
)
def train_test_split_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TEST side of a deterministic 90/10 split: gate-partitioned id
    space means train/test stay disjoint under re-runs, repartitioning
    and dataset growth — the leakage guarantee random sample() lacks."""
    docs = load_table(spark, "documents", sf_dir)
    _train, test = sampling.train_test_split(
        docs, test_fraction=0.1, gate=sampling.affine_gate("doc_id", salt=13)
    )
    return test.select("doc_id", "source")


# ---------------------------------------------------------------------------
# Round 2: repetition metrics, PII scrub, contamination check
# ---------------------------------------------------------------------------


def _sql_dup_frac(arr_expr: str) -> str:
    """DuckDB mirror of functions.text.duplicate_fraction (arrays here
    are never empty: split() yields at least [''])."""
    return f"(1 - len(list_distinct({arr_expr})) / greatest(len({arr_expr}), 1))"


def _sql_ngrams(n: int) -> str:
    """DuckDB mirror of functions.text.word_ngrams (inclusive slice
    t[i:i+n-1] = n tokens; short docs yield their whole run once)."""
    t = _SQL_TOKS
    return (
        f"[array_to_string(({t})[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, greatest(len({t})-{n - 1}, 1))]"
    )


@query(
    "text_repetition",
    f"""
    WITH m AS (
        SELECT lang,
               {_sql_dup_frac("string_split(text, chr(10))")} AS dup_line_frac,
               {_sql_dup_frac(_SQL_TOKS)} AS dup_token_frac,
               {_sql_dup_frac(_sql_ngrams(2))} AS dup_2gram_frac,
               {_sql_dup_frac(_sql_ngrams(3))} AS dup_3gram_frac
        FROM documents
    )
    SELECT lang,
           {sql_quantize("avg(dup_line_frac)", "avg_dup_line_frac", 4)},
           {sql_quantize("avg(dup_token_frac)", "avg_dup_token_frac", 4)},
           {sql_quantize("avg(dup_2gram_frac)", "avg_dup_2gram_frac", 4)},
           {sql_quantize("avg(dup_3gram_frac)", "avg_dup_3gram_frac", 4)},
           CAST(sum(CASE WHEN dup_3gram_frac > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM m GROUP BY 1
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics (Rae et al. 2021 §A1.1):
    duplicate-line and duplicate word 1/2/3-gram fractions per language,
    plus the count of docs a dup-3gram>0.2 filter would drop. Pure
    Catalyst array expressions — one narrow projection + one shuffle for
    the per-lang aggregate; per-row flags compare identically across
    engines (same IEEE ops), only the averages are quantized."""
    docs = load_table(spark, "documents", sf_dir)
    m = textfn.repetition_metrics("text")
    scored = docs.select("lang", *[c.alias(k) for k, c in m.items()])
    return scored.groupBy("lang").agg(
        quantize(F.avg("dup_line_frac"), "avg_dup_line_frac", 4),
        quantize(F.avg("dup_token_frac"), "avg_dup_token_frac", 4),
        quantize(F.avg("dup_2gram_frac"), "avg_dup_2gram_frac", 4),
        quantize(F.avg("dup_3gram_frac"), "avg_dup_3gram_frac", 4),
        F.sum((F.col("dup_3gram_frac") > 0.2).cast("long")).alias("n_flagged"),
    )


_SQL_PII_AUG = (
    "text || ' contact user' || doc_id || '@example.com from 10.1.2.' "
    "|| (doc_id % 256) || CASE WHEN doc_id % 2 = 0 "
    "THEN ' call +1 555 0100 42' ELSE '' END"
)


@query(
    "pii_scrub",
    f"""
    WITH aug AS (SELECT source, {_SQL_PII_AUG} AS t FROM documents),
    scrubbed AS (
        SELECT source, t,
               len(regexp_extract_all(t, '{textfn.PII_PATTERNS["email"]}')) AS n_email,
               len(regexp_extract_all(t, '{textfn.PII_PATTERNS["ip"]}')) AS n_ip,
               len(regexp_extract_all(t, '{textfn.PII_PATTERNS["phone"]}')) AS n_phone,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '{textfn.PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
                   '{textfn.PII_PATTERNS["ip"]}', '<IP>', 'g'),
                   '{textfn.PII_PATTERNS["phone"]}', '<PHONE>', 'g') AS clean
        FROM aug
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_email) AS BIGINT) AS total_emails,
           CAST(sum(n_ip) AS BIGINT) AS total_ips,
           CAST(sum(n_phone) AS BIGINT) AS total_phones,
           CAST(sum(length(t) - length(clean)) AS BIGINT) AS redacted_char_delta
    FROM scrubbed GROUP BY 1
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit: every document is augmented with a
    deterministic synthetic contact line (so the operator provably FIRES
    on every row — the corpus itself is PII-free), then scrubbed with
    the shared RE2-and-Java-compatible patterns (functions.text.
    PII_PATTERNS — the same regex strings run on both engines). Counts
    and redacted-length deltas per source. Single narrow projection +
    one aggregate shuffle; regex work is JVM-side codegen."""
    docs = load_table(spark, "documents", sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.1.2."),
        (F.col("doc_id") % 256).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(" call +1 555 0100 42")).otherwise(
            F.lit("")
        ),
    )
    counts = textfn.pii_counts(aug)
    t = docs.select(
        "source",
        F.length(aug).alias("len_raw"),
        F.length(textfn.scrub_pii(aug)).alias("len_clean"),
        *[c.alias(k) for k, c in counts.items()],
    )
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_email").alias("total_emails"),
        F.sum("n_ip").alias("total_ips"),
        F.sum("n_phone").alias("total_phones"),
        F.sum(F.col("len_raw") - F.col("len_clean")).alias("redacted_char_delta"),
    )


@query(
    "contamination_check",
    f"""
    WITH grams AS (
        SELECT doc_id, unnest({_sql_ngrams(8)}) AS g FROM documents
    ),
    bench AS (
        SELECT DISTINCT g FROM grams
        WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5)
          AND len(string_split(g, ' ')) = 8
    )
    SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_contaminated_grams
    FROM grams JOIN bench USING (g)
    GROUP BY 1
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every document sharing an 8-token
    word n-gram with the benchmark set (here: the 5 lowest-doc_id docs,
    so the check is deterministic and self-verifying — the benchmark IS
    in the corpus, as in real contamination sweeps).

    Shape: grams travel as xxhash64 of the token-tuple STRUCT, never as
    strings — a ~50-byte gram string × hundreds of grams × every doc is
    the memory/shuffle hot spot at corpus scale, an int64 is 8 bytes and
    hashes straight out of the token array (measured 3× on this query).
    Benchmark side is tiny → broadcast inner join on the hash, one
    aggregate shuffle on doc_id. distinct-gram counts are unchanged up
    to a 2^-64 birthday collision (the oracle counts the exact strings;
    short docs produce no struct grams and no len-8 string grams —
    identical join behavior)."""
    docs = load_table(spark, "documents", sf_dir)
    gram_hashes = F.transform(
        textfn.word_ngram_structs("text", 8), lambda s: F.xxhash64(s)
    )
    grams = docs.select("doc_id", F.explode(gram_hashes).alias("gh"))
    bench = (
        grams.join(docs.orderBy("doc_id").limit(5).select("doc_id"), "doc_id")
        .select("gh")
        .distinct()
    )
    return (
        grams.join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_contaminated_grams"))
    )


@query(
    "doc_chunks",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               unnest([{'i': CAST(s/24 AS BIGINT), 'c': array_to_string(t[s+1:s+32], ' ')}
                       for s in generate_series(0, greatest(len(t)-1, 0), 24)]) AS ch
        FROM toks
    )
    SELECT doc_id,
           ch.i AS chunk_idx,
           CAST(len(string_split(ch.c, ' ')) AS INTEGER) AS n_chunk_tokens,
           md5(ch.c) AS chunk_md5
    FROM chunks
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (chunk_size=32, overlap=8 at test scale;
    512/64 defaults in the function): every document split into
    overlapping token windows — the segmentation step feeding
    tokenization/packing in a pre-training pipeline. Content is
    value-checked compactly via md5(chunk_text). Narrow map + explode,
    no shuffle; the oracle mirrors the spans with a DuckDB list
    comprehension."""
    docs = load_table(spark, "documents", sf_dir)
    ch = F.explode(textfn.chunk_spans("text", chunk_size=32, overlap=8)).alias("ch")
    return docs.select("doc_id", ch).select(
        "doc_id",
        F.col("ch.chunk_idx").cast("long").alias("chunk_idx"),
        F.col("ch.n_chunk_tokens").alias("n_chunk_tokens"),
        F.md5("ch.chunk_text").alias("chunk_md5"),
    )


@query(
    "sequence_packing",
    f"""
    WITH sized AS (
        SELECT source, doc_id, len({_SQL_TOKS}) AS n_toks FROM documents
    ),
    packed AS (
        SELECT source, n_toks,
               sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_toks AS start_offset
        FROM sized
    )
    SELECT source,
           CAST(floor(start_offset / 2048) AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens
    FROM packed GROUP BY 1, 2
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing (operators/packing.py): docs
    stream per source in doc_id order into 2048-token training
    sequences; per (source, bin) doc and token counts. One window
    shuffle on source + one aggregate — the per-shard parallel shape a
    distributed loader uses (a global ordered cumsum would be a
    single-partition non-starter)."""
    from .operators import packing

    docs = load_table(spark, "documents", sf_dir)
    sized = docs.select("source", "doc_id", textfn.token_count("text").alias("n_toks"))
    packed = packing.pack_greedy(
        sized, size_col="n_toks", order_col="doc_id",
        partition_cols=["source"], capacity=2048,
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )


@query(
    "lm_bigram_quality",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ), bg AS (
      SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ), c12 AS (
      SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, count(*) AS c1 FROM bg GROUP BY 1
    ), v AS (
      SELECT count(DISTINCT w1) AS v FROM bg
    )
    SELECT doc_id, count(*) AS n_bigrams,
           floor((avg(ln((c12 + 0.5) / (c1 + 0.5 * v)))) * 10000 + 0.5) / 10000.0
             AS avg_logprob
    FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
)
def lm_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: a bigram language model with
    add-k smoothing (k=0.5) TRAINED ON THE CORPUS ITSELF scores each
    document by its average bigram log-likelihood — the classic
    LM-based quality filter of training-data pipelines (low scores =
    boilerplate-free gibberish; implausibly high = templated
    repetition), here with no external model dependency.

    Plan shape at 100 TB: bigram expansion is a narrow map
    (zip_with over token slices) and the corpus text is tokenized
    exactly TWICE — once into the bigram-count model, once as the
    scoring probe. The model (c12) is materialized (vocab-bounded —
    distinct bigrams, not corpus size), and the unigram counts and V
    DERIVE from it (sum/distinct over c12) instead of re-reading text;
    without this Spark recomputes the explode subtree per consumer
    (measured: 4 text scans, zero ReusedExchange). Scoring is two
    shuffle joins on vocab tables (AQE broadcasts small ones) plus a
    broadcast scalar; the per-doc average is map-side combinable. No
    Python anywhere."""
    from .checkpointing import truncate_lineage

    docs = load_table(spark, "documents", sf_dir)
    bg = (
        docs.select("doc_id", F.explode(textfn.bigram_structs("text")).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )
    c12 = truncate_lineage(
        # bigram vocab is sublinear in corpus but still unbounded —
        # serialized+spillable storage, not deserialized heap objects
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c12")), None,
        footprint="data",
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = c12.select("w1").distinct().agg(F.count("*").alias("v"))
    scored = (
        bg.join(c12, ["w1", "w2"]).join(c1, ["w1"]).crossJoin(F.broadcast(v))
    )
    logp = F.log((F.col("c12") + F.lit(0.5)) / (F.col("c1") + F.lit(0.5) * F.col("v")))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        quantize(F.avg(logp), "avg_logprob", 4),
    )


@query(
    "source_unigram_drift",
    r"""
    WITH tok AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ), per_src AS (
      SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2
    ), src_tot AS (
      SELECT source, sum(c) AS n FROM per_src GROUP BY 1
    ), corpus AS (
      SELECT tok, sum(c) AS cc FROM per_src GROUP BY 1
    ), corpus_tot AS (
      SELECT sum(cc) AS nn, count(*) AS v FROM corpus
    ), universe AS (
      SELECT t.source, t.n, c.tok, c.cc, coalesce(s.c, 0) AS c
      FROM src_tot t CROSS JOIN corpus c
      LEFT JOIN per_src s ON s.source = t.source AND s.tok = c.tok
    )
    SELECT u.source,
           CAST(u.n AS BIGINT) AS n_tokens,
           floor((sum(((u.c + 0.5) / (u.n + 0.5 * ct.v))
                      * ln(((u.c + 0.5) / (u.n + 0.5 * ct.v))
                           / ((u.cc + 0.5) / (ct.nn + 0.5 * ct.v)))))
                 * 10000 + 0.5) / 10000.0 AS kl_vs_corpus
    FROM universe u
    CROSS JOIN corpus_tot ct
    GROUP BY u.source, u.n
    """,
)
def source_unigram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture drift monitor: KL(P_source ‖ P_corpus) over add-0.5
    smoothed unigram distributions, one row per source — the check a
    training-data pipeline runs when a new crawl snapshot lands ("did
    this source's language shift?"). Smoothing is over the corpus
    vocabulary V, and the sum runs over the FULL (source × vocabulary)
    universe — absent tokens contribute their smoothed mass p₀ =
    0.5/(n + 0.5V), not zero. A truncated sum over observed tokens
    only (the first draft) is not a KL divergence and is not even
    guaranteed non-negative; the full form is ≥ 0 by Gibbs'
    inequality, which tests/test_analytics.py pins.

    Scale shape: ONE pass over text — the (source, token) count table
    is materialized (VOCAB × sources bounded, map-side combined: the
    shuffle carries one row per distinct key, never per occurrence)
    and every downstream marginal (per-source totals, corpus counts,
    grand totals) derives from it; without the materialization Spark
    recomputes the tokenize subtree per consumer. Totals join back as
    a broadcast scalar. At 100 TB the heavy stage is the narrow
    tokenize map; everything after is megabytes."""
    from .checkpointing import truncate_lineage

    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("source", F.explode(textfn.tokens("text")).alias("tok"))
    per_src = truncate_lineage(
        tok.groupBy("source", "tok").agg(F.count("*").alias("c")), None,
        footprint="data",
    )
    src_tot = per_src.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = per_src.groupBy("tok").agg(F.sum("c").alias("cc"))
    corpus_tot = corpus.agg(
        F.sum("cc").alias("nn"), F.count("*").alias("v")
    )
    p = (F.col("c") + F.lit(0.5)) / (F.col("n") + F.lit(0.5) * F.col("v"))
    q = (F.col("cc") + F.lit(0.5)) / (F.col("nn") + F.lit(0.5) * F.col("v"))
    # full universe: every (source, corpus token), absent counts = 0.
    # |sources| × |vocab| rows — vocab-bounded, same order as the model
    # tables themselves; the broadcast of src_tot keeps it shuffle-free.
    universe = (
        F.broadcast(src_tot)
        .crossJoin(corpus)
        .join(per_src, ["source", "tok"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    joined = universe.crossJoin(F.broadcast(corpus_tot))
    return joined.groupBy("source", F.col("n").alias("n_tokens")).agg(
        quantize(F.sum(p * F.log(p / q)), "kl_vs_corpus", 4)
    )


@query(
    "edit_near_dups_lsh",
    """
    WITH base AS (
        SELECT doc_id, lang, substr(trim(text), 1, 64) AS head,
               length(substr(trim(text), 1, 64)) AS n
        FROM documents
        WHERE length(substr(trim(text), 1, 64))
              = strlen(substr(trim(text), 1, 64))
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.head, b.head) AS INT) AS edit_dist
    FROM base a JOIN base b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n - b.n) <= 8
    WHERE levenshtein(a.head, b.head) <= 8
    """,
)
def edit_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loose-threshold edit-distance near-dup detection over document
    HEADS (first 64 chars — the title-ish prefix where templated
    duplicates collide): pairs within Levenshtein distance 8, same
    lang. Candidates come from MinHash-LSH over character 4-grams,
    verification from the banded ``levenshtein(a, b, 8)`` — exact
    distance at ≤ 8 (verified at the d = k boundary), so every emitted
    pair is truly within 8 (dedup/editjoin.py::edit_near_pairs_lsh).

    HISTORY — this entry replaces `prefix_edit_near_dups` (r5–r9),
    whose blocked cross-join grew 34× at the r9 10× scale capture and
    was adjudicated quadratic-by-construction. ED-Join prefix
    filtering was built and MEASURED as the fix and LOSES at loose k
    on this corpus (3.07 M prefix candidates vs 2.4 M brute pairs —
    the "rarest" 4-grams still carry df≈650 at k·q+1 = 33 prefix
    width); tight thresholds keep the exact ED-Join path
    (`head_edit_join_tight`). This loose-k entry now takes the
    approximate route the r9 verdict prescribed: sub-quadratic by
    design, with a measured recall certificate instead of an assumed
    one.

    RECALL CERTIFICATE (the ANN-family pattern): the oracle is the
    EXACT brute join, so the driver's value-hash at sf0.01 certifies
    recall 1.0 there, not just precision. Recall is STRUCTURAL — not
    probabilistic — for every pair whose shorter side is under
    2·k·q = 64 chars (r11, ADVICE r10): min < q·(k+1) = 36 takes the
    exact brute leg (k edits can destroy the whole gram set, J → 0);
    36 ≤ min < 64 takes the exact ED-Join-prefix mid leg
    (dedup/editjoin.py::_mid_exact_pairs — just above the 36-char
    cutoff a scattered-edit pair's gram Jaccard can fall to
    (n−kq)/(n+kq) ≈ 0.06, catch probability ~2e-4 at 16×4 banding, so
    probabilistic recall is NOT acceptable there). Only pairs with
    BOTH sides ≥ 64 chars ride LSH, where worst-case J(n) =
    (n−kq)/(n+kq) ≥ 1/3 and the residual miss probability is
    (1 − J(n)⁴)¹⁶ — ≤ 0.82 for a maximally scattered adversarial pair
    at the n = 64 boundary, ≈ 3e-9 at the MEASURED J ≥ 0.92 of every
    real true pair in the graded corpora. Measured at sf0.1: all 79
    true pairs recovered (73 at d=0 ⇒ J=1 ⇒ caught with probability
    exactly 1). tests/test_editjoin.py additionally pins
    LSH-equals-brute on synthetic mutation corpora with controlled
    d ≤ 8 structure, including a scattered-edit mid-band corpus at the
    old worst case.

    Scale shape (vs the 34×-growth brute): signatures are a per-row
    fold (zero shuffle), banding shuffles 64-int signatures, bucket
    keys are 64-bit hashes so candidate volume tracks the TRUE
    near-dup count rather than corpus²/blocks, and the verify join is
    bounded by candidates. Same design class as minhash_near_dup,
    which holds sublinear growth at the 10× capture.

    ASCII-head scope: Spark's levenshtein counts CODEPOINTS, DuckDB's
    counts BYTES (verified: levenshtein('的是在','的是了') = 1 vs 3), so
    the oracle-checked query gates to heads where char length ==
    byte length (pure ASCII) on BOTH engines — the only regime where
    the two metrics coincide. Non-ASCII near-dups are covered by the
    codepoint-safe token/shingle family (minhash/simhash/ngram), which
    normalizes with Unicode classes. The banded-levenshtein OPERATOR
    itself is codepoint-correct for all text; only the cross-engine
    check needs the gate."""
    from .dedup import editjoin

    docs = load_table(spark, "documents", sf_dir)
    base = (
        docs.select(
            "doc_id",
            "lang",
            F.substring(F.trim(F.col("text")), 1, 64).alias("head"),
        )
        # ASCII gate: codepoint length == byte length (see docstring)
        .filter(F.length("head") == F.octet_length("head"))
    )
    return editjoin.edit_near_pairs_lsh(
        base, k=8, q=4, id_col="doc_id", text_col="head", block_col="lang"
    )


@query(
    "head_edit_join_tight",
    """
    WITH base AS (
        SELECT doc_id, lang, substr(trim(text), 1, 64) AS head
        FROM documents
        WHERE length(substr(trim(text), 1, 64))
              = strlen(substr(trim(text), 1, 64))
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.head, b.head) AS INT) AS edit_dist
    FROM base a JOIN base b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 2
    """,
)
def head_edit_join_tight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ED-Join edit-distance similarity join at a TIGHT threshold
    (k=2 over 64-char heads — the near-identical-title regime), the
    regime where q-gram prefix filtering genuinely breaks the
    quadratic (dedup/editjoin.py, Xiao et al. VLDB'08): candidates are
    pairs sharing one of their k·q+1 = 9 globally-RAREST 4-grams — a
    provable superset of all pairs within distance 2 — then banded
    Levenshtein verifies. Measured on this corpus: 2.4M blocked-join
    pairs → 326k candidates (7.4×); the cut grows with gram diversity.
    Strings too short for the prefix theorem (< q·(k+1) chars) take an
    exact blocked fallback. The oracle is the brute join, so the value
    hash proves candidate COMPLETENESS, not just precision (equality
    also property-tested against brute in tests/test_editjoin.py,
    including the short path, d == k boundaries, and set-semantics
    duplicate grams).

    100 TB: one vocab-bounded gram-frequency aggregate, one per-doc
    top-9 window (partitioned by doc), one rare-key equi-join, and a
    verification pass that tracks the TRUE pair count — vs the blocked
    join's corpus²/blocks. Loose thresholds stay with minhash/simhash
    (see edit_near_dups_lsh's HISTORY note)."""
    from .dedup import editjoin

    docs = load_table(spark, "documents", sf_dir)
    base = (
        docs.select(
            "doc_id",
            "lang",
            F.substring(F.trim(F.col("text")), 1, 64).alias("head"),
        )
        .filter(F.length("head") == F.octet_length("head"))
    )
    return editjoin.edit_near_pairs(
        base, k=2, q=4, id_col="doc_id", text_col="head", block_col="lang"
    )


@query(
    "semantic_search_meta",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id,
               floor((list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q))) * 10000 + 0.5) / 10000.0 AS cos
        FROM embeddings
    ), topk AS (
        SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    )
    SELECT t.vec_id, t.cos, d.lang, d.source, d.n_chars
    FROM topk t JOIN documents d ON d.doc_id = t.vec_id
    ORDER BY t.cos DESC, t.vec_id
    """,
)
def semantic_search_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval SERVING shape: ANN top-k over the embedding table,
    hydrated with document metadata by a broadcast join of the k-row
    result against the documents table — the two-step (index → store)
    pattern every vector-search deployment runs. The k-row side
    broadcasts, so hydration costs one dim-table scan, no shuffle of
    either table."""
    docs = load_table(spark, "documents", sf_dir)
    topk = _exact_cosine_topk(spark, sf_dir, _query_vec(spark, sf_dir))
    return (
        docs.join(F.broadcast(topk), docs.doc_id == topk.vec_id)
        .select("vec_id", "cos", "lang", "source", "n_chars")
        .orderBy(F.desc("cos"), F.col("vec_id"))
    )


@query(
    "near_dup_cluster_sizes",
    _SQL_NEAR_DUP_CLUSTERS.replace(
        "SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node",
        """SELECT CAST(sz AS BIGINT) AS cluster_size,
              CAST(count(*) AS BIGINT) AS n_clusters
       FROM (
         SELECT min(lab) AS cid, CAST(count(DISTINCT node) AS BIGINT) AS sz
         FROM (SELECT node, min(lab) AS lab FROM reach GROUP BY node)
         GROUP BY lab
       ) GROUP BY sz ORDER BY sz""",
    ),
)
def near_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: the near-dup cluster-size histogram — the
    first thing to look at after any dedup run (a sudden giant cluster
    means boilerplate or a broken shingle config, long before anyone
    inspects pairs). Derived from the same CC members as
    near_dup_clusters; two tiny aggregates over the member relation.
    """
    members = _near_dup_members(spark, sf_dir)
    sizes = members.groupBy("cluster_id").agg(
        F.countDistinct("doc_id").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


@query(
    "leakage_safe_splits",
    f"""
    WITH RECURSIVE members AS ({_SQL_NEAR_DUP_CLUSTERS}),
    assigned AS (
        SELECT d.doc_id, COALESCE(m.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN members m ON d.doc_id = m.doc_id
    ),
    labeled AS (
        SELECT doc_id, cluster_id,
               CASE WHEN ((cluster_id % 99991) * 2654435761 + 7) % 10000 < 8000
                        THEN 'train'
                    WHEN ((cluster_id % 99991) * 2654435761 + 7) % 10000 < 9000
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM assigned
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT cluster_id) AS n_clusters
    FROM labeled GROUP BY split
    """,
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split — the leakage guard document-
    level splitting cannot give: hashing DOC ids scatters near-duplicate
    documents across splits, so paraphrases of training text leak into
    eval (the contamination mode Lee et al. 2022 measure). Here the
    split gate hashes the near-dup CLUSTER id (canonical min doc_id;
    singletons are their own cluster), so an entire duplicate family
    lands in one split BY CONSTRUCTION — no cluster can span splits,
    ever, and the property survives re-runs and corpus growth because
    the gate is a pure function of the id (operators/sampling.py).

    Scale: cluster detection is the near-dup pipeline (one LSH + CC
    pass, amortized across every consumer of the clusters); the split
    itself is a narrow filter over the (doc → cluster) relation.
    The SQL-portable affine gate keeps the oracle value-checking the
    whole assignment, not just counts per split."""
    docs = load_table(spark, "documents", sf_dir)
    members = _near_dup_members(spark, sf_dir)
    assigned = (
        docs.select("doc_id")
        .join(members.withColumnRenamed("doc_id", "m_id"),
              F.col("doc_id") == F.col("m_id"), "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
    g = sampling.affine_gate("cluster_id", salt=7)
    split = (
        F.when(g < 8000, "train").when(g < 9000, "val").otherwise("test")
    )
    return assigned.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )


# ---------------------------------------------------------------------------
# Round 6: expression breadth — array higher-order functions; safe casts
# ---------------------------------------------------------------------------


@query(
    "array_hof_suite",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    )
    SELECT doc_id,
           len(t) AS n_tokens,
           len(list_filter(t, x -> len(x) >= 6)) AS n_long,
           CAST(list_aggregate(list_transform(t, x -> len(x)), 'sum')
                AS BIGINT) AS total_chars,
           list_aggregate(list_transform(t, x -> len(x)), 'max') AS max_len,
           floor((list_aggregate(list_transform(t, x -> len(x)), 'sum')
                  * 1.0 / len(t)) * 10000 + 0.5) / 10000.0 AS mean_len
    FROM toks
    WHERE len(t) > 0
    ORDER BY doc_id
    """,
)
def array_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions as one driver row (K-family
    breadth): TRANSFORM / FILTER / AGGREGATE over the tokenized
    documents — per-doc token count, long-token count, total/max/mean
    token length — all lambda expressions evaluated INSIDE codegen
    (no Python). The DuckDB oracle is the list_transform/list_filter/
    list_aggregate mirror, which pins Spark's HOF semantics (including
    the int-widening of aggregate) against an independent engine.

    100 TB: HOFs are the scale answer to per-row collection work —
    the alternative (explode → groupBy) shuffles |tokens| rows; the
    lambda pipeline shuffles nothing."""
    # canonical tokenizer (functions.text.tokens) + empty-token filter,
    # so this suite moves with the repo-wide tokenization convention
    toks = F.filter(textfn.tokens("text"), lambda t: F.length(t) > 0)
    lens = F.transform(F.col("t"), lambda x: F.length(x).cast("bigint"))
    total = F.aggregate(lens, F.lit(0).cast("bigint"), lambda a, x: a + x)
    return (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tokens"),
            F.size(F.filter("t", lambda x: F.length(x) >= 6))
            .cast("bigint")
            .alias("n_long"),
            total.alias("total_chars"),
            F.array_max(lens).alias("max_len"),
            quantize(total / F.size("t"), "mean_len", 4),
        )
        .orderBy("doc_id")
    )


@query(
    "safe_cast_suite",
    """
    SELECT event_type,
           count(*) AS n,
           count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS n_k,
           CAST(coalesce(sum(TRY_CAST(json_extract_string(props, '$.k')
                AS BIGINT)), 0) AS BIGINT) AS sum_k,
           count(*) FILTER (WHERE TRY_CAST(event_type AS BIGINT) IS NULL)
               AS n_unparseable,
           count(TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT)) AS n_redigit
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def safe_cast_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safe-cast semantics over semi-structured props (F-family
    breadth): ``try_cast`` turns unparseable strings into NULL instead
    of an ANSI runtime error or a silent wrong value — the ingestion
    contract for dirty attributes. Per event type: parseable JSON-k
    count and sum, rows where a non-numeric string yields NULL (all of
    them), and a digits-round-trip control that must parse for every
    row — each pinned against DuckDB's TRY_CAST.

    100 TB: try_cast is pure codegen (no exception machinery on the
    hot path) and NULL-counting aggregates are partial-aggregated
    map-side like any other count."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    bad = F.col("event_type").try_cast("bigint")
    redigit = F.col("event_id").cast("string").try_cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count(k).alias("n_k"),
            F.coalesce(F.sum(k), F.lit(0)).cast("bigint").alias("sum_k"),
            F.count_if(bad.isNull()).alias("n_unparseable"),
            F.count(redigit).alias("n_redigit"),
        )
        .orderBy("event_type")
    )


@query(
    "epoch_shuffle",
    """
    WITH keyed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 12)
                  AS BIGINT) AS shuffle_key
      FROM documents
    )
    SELECT CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
             AS position,
           doc_id, shuffle_key
    FROM keyed ORDER BY position
    """,
)
def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EPOCH SHUFFLE for training-example order
    (operators/sampling.deterministic_shuffle): every document gets a
    global position under a seeded permutation that is identical across
    runs, cluster layouts, and partition counts — the property
    `.orderBy(rand())` cannot give and epoch reproducibility needs.

    The permutation key here is the md5-prefix fold (portable — the
    oracle recomputes it exactly; production uses the operator's
    default engine-native xxhash64, same plan). Global positions are
    assigned with the scalable two-phase pattern, not a single-
    partition window: ONE range exchange orders the data (that is the
    shuffle itself), each partition numbers its rows locally, and the
    per-partition offsets — O(num_partitions) driver data — lift local
    ranks to global positions. The shuffled frame is materialized once
    (localCheckpoint) so the offset probe and the final projection see
    the SAME range boundaries (repartitionByRange samples per job —
    two separate executions could split ties differently); at scale
    that materialization IS the epoch export (shuffle once per epoch,
    write, train from the artifact).

    100 TB: range exchange shuffles each row once; the offset collect
    is bounded by partition count; the rank window runs per partition
    with no global sort node. The id tiebreak in BOTH the partitioner
    and the sort keeps the permutation total even under key collisions.
    """
    from pyspark.sql import Window

    from .checkpointing import release, truncate_lineage

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    key = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(7), F.col("doc_id"))), 1, 12),
        16,
        10,
    ).cast("long")
    keyed = docs.withColumn("shuffle_key", key)
    shuffled = sampling.deterministic_shuffle(
        keyed, "doc_id", key=F.col("shuffle_key")
    )
    base = truncate_lineage(
        shuffled.withColumn("pid", F.spark_partition_id()), footprint="data"
    )
    counts = base.groupBy("pid").count().collect()  # O(partitions) rows
    sizes = {r["pid"]: r["count"] for r in counts}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    omap = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    w = Window.partitionBy("pid").orderBy("shuffle_key", "doc_id")
    out = (
        base.withColumn("local", F.row_number().over(w))
        .select(
            (omap[F.col("pid")] + F.col("local")).cast("bigint").alias("position"),
            "doc_id",
            "shuffle_key",
        )
        .orderBy("position")
    )
    # the result plan reads base's blocks; defer the release to the
    # next invocation (same pattern as _fresh_dir's deferred reclaim)
    prev = getattr(epoch_shuffle, "_last_base", None)
    if prev is not None:
        release(prev)
    epoch_shuffle._last_base = base
    return out


@query(
    "alpha_mixture_resample",
    """
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang
    ),
    t AS (
      SELECT CAST(sum(n) AS DOUBLE) AS nt,
             sum(pow(CAST(n AS DOUBLE), 0.5)) AS z
      FROM c
    ),
    cut AS (
      SELECT lang,
             CAST(floor(
               least(1.0,
                     0.5 * nt * (pow(CAST(n AS DOUBLE), 0.5) / z) / n)
               * 10000 + 0.5) AS BIGINT) AS gc
      FROM c, t
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN cut ON d.lang = cut.lang
    WHERE ((d.doc_id % 99991) * 2654435761 + 31) % 10000 < cut.gc
    """,
)
def alpha_mixture_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (r10) — the data-MIXING
    step of multilingual/multi-source LM training (the mT5/XLM-R
    p_i^α schedule, α = 0.5 here): per-language mass p_i is tempered
    to q_i ∝ p_i^α (upweighting low-resource languages), and a corpus
    of half the original size is drawn at per-row rate
    min(1, 0.5·N·q_i/n_i) — deterministically, via the same portable
    affine id gate as stratified_sample, so membership is a pure
    function of doc_id (reproducible under re-runs, repartitioning,
    and growth; no RNG). Unlike stratified_sample's FIXED fractions,
    the rates here are COMPUTED FROM THE DATA — the oracle recomputes
    counts → tempering → gate cuts → exact kept set, so the value
    hash checks the whole mixture math, not just a sample size.

    operators/sampling.py::alpha_mixture_resample. 100 TB: two
    aggregates over |strata| rows, a broadcast rates join, one narrow
    filter — the data rows never shuffle. pow feeds on exact integer
    counts on BOTH engines (the N^α factors cancel algebraically), so
    the transcendental sees identical inputs; a gate-cut boundary flip
    would need rate·10⁴ within ~1e-12 of an integer."""
    docs = load_table(spark, "documents", sf_dir)
    out = sampling.alpha_mixture_resample(
        docs,
        strata_col="lang",
        gate=sampling.affine_gate("doc_id", salt=31),
        alpha=0.5,
        target_fraction=0.5,
    )
    return out.select("doc_id", "lang")
