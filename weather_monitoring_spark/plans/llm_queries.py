"""Training-data-pipeline queries over ``documents`` / ``embeddings``:
dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity search,
text analysis. The scale-path rationale lives with the operators
(operators/dedup.py, operators/similarity.py, operators/textops.py); this
module binds them into the oracle-checked registry.

The DuckDB oracle SQL for the hash-based operators is *generated from the
same constants* as the Spark expressions (functions/text.py) — md5 is the
shared deterministic hash family, so even MinHash/SimHash signatures are
bit-identical across engines and fully oracle-checkable (rare for LSH
implementations, and exactly what makes this surface trustworthy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_monitoring_spark.functions.text import (
    o_h32,
    o_h32_from_hex,
    o_h60_from_md5,
    o_minhash,
    o_shingle_hashes,
    o_shingles,
    o_tokens,
)
from weather_monitoring_spark.operators.dedup import (
    BAND_DF_MIN,
    HAMMING_THRESHOLD,
    JACCARD_THRESHOLD,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    SHINGLE_DF_FRAC,
    SHINGLE_DF_MIN,
    SIMHASH_BITS,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    ngram_jaccard_verify,
    simhash_neardup_pairs,
)
from weather_monitoring_spark.operators.similarity import (
    ANN_TOP_K,
    COSINE_NEARDUP_THRESHOLD,
    ann_lsh_topk,
    cosine_neardup_pairs,
    cosine_topk,
)
from weather_monitoring_spark.operators.quality import (
    o_redaction_cols,
    o_repetition_cols,
    quality_annotations,
)
from weather_monitoring_spark.operators.textops import (
    BPE_TOKEN_RE,
    LANG_LEXICONS,
    doc_annotations,
)
from weather_monitoring_spark.plans.registry import query
from weather_monitoring_spark.sources.tables import load_table

QUERY_VEC_IDS = [0, 1, 2, 3, 4]

# Shared oracle CTE: tokens + shingles per document.
O_DOC_TOKENS = f"SELECT doc_id, {o_tokens('text')} AS tk FROM documents"
O_DOC_SHINGLES = f"SELECT doc_id, {o_shingles('tk')} AS sh FROM ({O_DOC_TOKENS})"


@query(
    "q25_exact_dedup",
    "Exact dedup by content hash over a doubled corpus: one keeper id per "
    "distinct text. The shuffle moves (16-byte digest, id) pairs, never "
    "documents — the 100 TB-safe formulation.",
    oracle="""
        SELECT coalesce(md5(text), 'null:' || CAST(doc_id AS VARCHAR)) AS fp,
               min(doc_id) AS keeper_doc_id, count(*) AS n_copies
        FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def q25_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs.unionByName(docs))


def _o_lang_case() -> str:
    langs = list(LANG_LEXICONS)
    hits = {
        lang: f"len(list_filter(tk, t -> list_contains({list(LANG_LEXICONS[lang])}, t)))"
        for lang in langs
    }
    zero = " AND ".join(f"{hits[lang]} = 0" for lang in langs)
    case = [f"WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'"]
    case.append(f"WHEN {zero} THEN 'und'")
    for i, lang in enumerate(langs):
        conds = [f"{hits[lang]} >= {hits[o]}" for o in langs[i + 1 :]]
        case.append(
            f"WHEN {' AND '.join(conds)} THEN '{lang}'" if conds else f"ELSE '{lang}'"
        )
    return "CASE " + " ".join(case) + " END"


@query(
    "q26_doc_annotations",
    "The full metadata annotation pass per document: quality features "
    "(char/token counts, char-class ratios, stopword ratio), token "
    "budgets (whitespace + BPE-ish subword counts), heuristic language "
    "ID (Han-block detection + stopword-lexicon voting), and all three "
    "fingerprints (exact md5, normalized-token md5, order-sensitive "
    "31-polynomial rolling hash) — ONE projection (no shuffle, no join "
    "between annotation families), runs at scan speed.",
    oracle=f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
               CAST(length(text) AS BIGINT)
                 - CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
                 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
                 - CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_symbol,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) AS alpha_ratio,
               length(array_to_string(tk, '')) * 1.0 / len(tk) AS avg_token_len,
               len(list_filter(tk, t -> list_contains({list(LANG_LEXICONS['en'])}, t))) * 1.0
                 / len(tk) AS stopword_ratio,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}', 0)) AS BIGINT) AS bpe_tokens,
               {_o_lang_case()} AS pred_lang,
               {", ".join(
                   f"CAST(len(list_filter(tk, t -> list_contains({list(LANG_LEXICONS[lang])}, t))) AS BIGINT) AS hits_{lang}"
                   for lang in LANG_LEXICONS
               )},
               md5(text) AS fp_exact,
               md5(array_to_string(tk, ' ')) AS fp_normalized,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(tk, t -> {o_h32('fp', 't')})),
                   (acc, h) -> (acc * 31 + h) % 2147483647) AS fp_rolling
        FROM (SELECT doc_id, text, tk FROM (SELECT *, {o_tokens('text')} AS tk FROM documents))
    """,
    tags=("llm", "text", "fingerprint"),
)
def q26_doc_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_annotations(load_table(spark, sf_dir, "documents", spread=True))


#: Deterministic synthetic PII suffix for q27 — built from doc_id with
#: the *same* string algebra on both engines, so the redaction query
#: actually exercises matches (the synthetic corpus itself contains no
#: digits or '@'). Spark side mirrors this in _plant_pii.
O_PLANTED_PII = (
    "SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.org from 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.7 call 555-0' || CAST(doc_id % 10 AS VARCHAR) || '00-1234' AS text"
    " FROM documents"
)


def _plant_pii(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.org from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-0"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("00-1234"),
        ).alias("text"),
    )


def _o_pii_quality() -> str:
    red = o_redaction_cols("text")
    rep = o_repetition_cols("tk")
    cols = ", ".join(
        f"{frag} AS {name}"
        for name, frag in [
            ("clean_text", red["clean_text"]),
            ("n_emails", red["n_emails"]),
            ("n_ips", red["n_ips"]),
            ("n_phones", red["n_phones"]),
            ("n_tokens", rep["n_tokens"]),
            ("top_token_share", rep["top_token_share"]),
            ("top_bigram_share", rep["top_bigram_share"]),
            ("dup_token_frac", rep["dup_token_frac"]),
        ]
    )
    return (
        f"SELECT doc_id, {cols} FROM "
        f"(SELECT doc_id, text, {o_tokens('text')} AS tk FROM ({O_PLANTED_PII}))"
    )


@query(
    "q27_pii_quality",
    "Curation-gate annotations over documents with deterministically "
    "planted PII: e-mail/IPv4/phone redaction + per-pattern counts "
    "(RE2∩Java-regex patterns shared verbatim with the oracle) AND "
    "Gopher-style repetition signals (top-unigram share, top-bigram "
    "share, duplicate-token fraction) computed zero-shuffle via "
    "sorted-array run-length folds — ONE projection, scan speed at any "
    "corpus size.",
    oracle=_o_pii_quality(),
    tags=("llm", "text", "quality", "pii"),
)
def q27_pii_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_annotations(
        _plant_pii(load_table(spark, sf_dir, "documents", spread=True))
    )


O_DOC_SHINGLE_HASHES = (
    f"SELECT doc_id, {o_shingle_hashes('sh')} AS hh FROM ({O_DOC_SHINGLES})"
)


def _o_minhash_sig() -> str:
    mh = ", ".join(f"{o_minhash('hh', i)} AS mh_{i}" for i in range(MINHASH_K))
    sig = "concat_ws('-', " + ", ".join(
        f"CAST(mh_{i} AS VARCHAR)" for i in range(MINHASH_K)
    ) + ")"
    # Mirrors minhash_signatures' null contract: NULL text emits no row
    # (own filtered root — O_DOC_TOKENS is shared by oracles that must
    # keep all docs), and a shingle-less doc's band keys are NULL (so
    # the band join can never pair it), not a shared h60(md5('')).
    bands = ", ".join(
        "CASE WHEN mh_0 IS NULL THEN NULL ELSE "
        + o_h60_from_md5(
            "md5(concat_ws('-', "
            + ", ".join(
                f"CAST(mh_{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
            )
            + "))"
        )
        + f" END AS band_{b}"
        for b in range(LSH_BANDS)
    )
    shingle_hashes = (
        f"SELECT doc_id, {o_shingle_hashes('sh')} AS hh FROM "
        f"(SELECT doc_id, {o_shingles('tk')} AS sh FROM "
        f"(SELECT doc_id, {o_tokens('text')} AS tk FROM documents "
        f"WHERE text IS NOT NULL))"
    )
    return f"SELECT doc_id, {sig} AS sig, {bands} FROM (SELECT doc_id, {mh} FROM ({shingle_hashes}))"


@query(
    "q30_minhash_signatures",
    f"MinHash signatures (K={MINHASH_K}, md5-derived hash family) + "
    f"{LSH_BANDS} LSH band hashes per document. Bit-identical across "
    "engines — the signature itself is oracle-checked.",
    oracle=f"SELECT doc_id, sig FROM ({_o_minhash_sig()})",
    tags=("llm", "dedup", "minhash"),
)
def q30_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(
        load_table(spark, sf_dir, "documents", spread=True)
    ).select(
        "doc_id", "sig"
    )


def o_band_candidates(docs_table: str = "documents") -> str:
    """Shared DuckDB CTE chain ending in ``cand(id_a, id_b)`` — the exact
    mirror of minhash_lsh_pairs INCLUDING the hot-bucket guard, generated
    from the same constants (BAND_DF_MIN/FRAC): band self-join over
    non-hot buckets, exact-signature star pairs (min-id keeper per
    identical full signature) for members of over-cap buckets. Used by
    q31, q50, and the cluster extras so the four compositions cannot
    drift from the operator."""
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {o_h60_from_md5('md5(sig)')} AS fp,"
        f" {b} AS band_idx, band_{b} AS bh FROM sigs"
        for b in range(LSH_BANDS)
    )
    return f"""sigs AS ({_o_minhash_sig()}),
        bands AS ({bands_union}),
        bcut AS (SELECT greatest({BAND_DF_MIN},
                                 CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
                 FROM {docs_table}),
        hotb AS (SELECT band_idx, bh FROM bands
                 GROUP BY 1, 2 HAVING count(*) > (SELECT c FROM bcut)),
        coldb AS (SELECT b.* FROM bands b WHERE NOT EXISTS (
            SELECT 1 FROM hotb h WHERE h.band_idx = b.band_idx AND h.bh = b.bh)),
        hotm AS (SELECT DISTINCT doc_id, fp FROM bands b WHERE EXISTS (
            SELECT 1 FROM hotb h WHERE h.band_idx = b.band_idx AND h.bh = b.bh)),
        keepg AS (SELECT fp, min(doc_id) AS keeper FROM hotm GROUP BY fp),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM coldb a JOIN coldb b
              ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
            UNION
            SELECT k.keeper, m.doc_id FROM hotm m JOIN keepg k USING (fp)
            WHERE m.doc_id > k.keeper
        )"""


def _doc_guard_cutoffs(sf_dir: str) -> tuple[int | str, int | str]:
    """(max_band_df, max_shingle_df) for queries whose input IS the full
    documents table: the exact corpus count comes from parquet footer
    metadata (tables.table_rows, driver-side, memoized) and feeds the
    operators' existing pinned-int cutoff paths — the 'auto' mode's
    lazy count(*) aggregate was an extra full-corpus subtree per plan
    (r16, the q36 footer-count pattern). Falls back to 'auto' when the
    layout defeats cheap counting. The cutoff VALUES are identical by
    construction (footer num_rows == count(*)); the oracles' bcut/cut
    CTEs compute the same numbers from count(*)."""
    from weather_monitoring_spark.operators.dedup import (
        band_df_cutoff,
        shingle_df_cutoff,
    )
    from weather_monitoring_spark.sources.tables import table_rows

    rows = table_rows(sf_dir, "documents")
    if rows is None:
        return "auto", "auto"
    return band_df_cutoff(rows), shingle_df_cutoff(rows)


@query(
    "q31_minhash_lsh_pairs",
    f"MinHash-LSH candidate pairs: documents sharing >=1 of {LSH_BANDS} "
    f"band buckets (r={LSH_ROWS}; S-curve midpoint 1/3, p(j=0.5)=0.973). "
    "Hot band buckets (> max(50, sqrt(n)) docs — mass boilerplate) "
    "divert to exact-signature star pairs instead of an m^2 self-join; "
    "the cold join shuffles only (band_hash, id, sig-digest) rows.",
    oracle=f"""
        WITH {o_band_candidates()}
        SELECT id_a, id_b FROM cand
    """,
    tags=("llm", "dedup", "minhash", "join"),
)
def q31_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    band_cut, _ = _doc_guard_cutoffs(sf_dir)
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents", spread=True),
        max_band_df=band_cut,
    )


# Shared oracle CTE chain: exploded shingles with the hot-shingle df
# cutoff applied — generated from the SAME constants as the Spark-side
# guard (operators/dedup.shingle_df_cutoff), so the two sides can't drift.
O_FILTERED_SH = f"""
        sh0 AS (SELECT doc_id AS id, unnest(sh) AS s FROM ({O_DOC_SHINGLES})),
        cut AS (SELECT greatest({SHINGLE_DF_MIN},
                                CAST(ceil({SHINGLE_DF_FRAC} * count(*)) AS BIGINT)) AS c
                FROM documents),
        hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > (SELECT c FROM cut)),
        sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
        sz AS (SELECT id, count(*) AS n FROM sh GROUP BY 1)
"""


@query(
    "q32_ngram_jaccard_pairs",
    f"Exact 3-gram Jaccard near-dup pairs (>= {JACCARD_THRESHOLD}) via the "
    "inverted-index join — cost scales with shingle co-occurrence, not "
    "n^2 documents. The corpus-derived hot-shingle df cutoff (the skew "
    "guard: one boilerplate shingle in 1M docs alone would be 10^12 join "
    "rows) is ON, with filtered-universe Jaccard on both engines.",
    oracle=f"""
        WITH {O_FILTERED_SH},
        shared AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
            FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, shared,
               shared * 1.0 / (x.n + y.n - shared) AS jaccard
        FROM shared JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
        WHERE shared * 1.0 / (x.n + y.n - shared) >= {JACCARD_THRESHOLD}
    """,
    tags=("llm", "dedup", "join"),
)
def q32_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, shingle_cut = _doc_guard_cutoffs(sf_dir)
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents", spread=True),
        max_shingle_df=shingle_cut,
    )


def _o_simhash() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN ({'h_lo' if b < 32 else 'h_hi'} >> {b % 32}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(SIMHASH_BITS)
    )

    def weight(b: int) -> str:
        # Bit 63 = the BIGINT sign bit; (-max - 1) keeps the literal (and
        # hence the sum) in BIGINT arithmetic, never HUGEINT.
        return "(-9223372036854775807 - 1)" if b == 63 else str(1 << b)

    sim = " + ".join(
        f"CASE WHEN v_{b} > 0 THEN CAST({weight(b)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
        SELECT doc_id, {sim} AS simhash FROM (
            SELECT doc_id, {votes} FROM (
                SELECT doc_id, {o_h32_from_hex('m', 1)} AS h_lo,
                       {o_h32_from_hex('m', 9)} AS h_hi
                FROM (SELECT doc_id, md5('sh' || ':' || t) AS m
                      FROM (SELECT doc_id, unnest(tk) AS t FROM ({O_DOC_TOKENS})))
            ) GROUP BY doc_id
        )
    """


# The standalone SimHash-signature query (per-doc bit-identity for ALL
# docs, not just colliding ones) moved to extra_checks.py to fit the
# driver window; q34's oracle still recomputes signatures from scratch.


@query(
    "q34_simhash_neardup_pairs",
    f"SimHash near-dup pairs (Hamming <= {HAMMING_THRESHOLD}, 64-bit "
    "signatures) via Manku-style multi-table blocking: C(5,2)=10 tables "
    "keyed on ~26-bit two-block concatenations, equi-join per table, "
    "exact Hamming verify — lossless for the <= d predicate with "
    "n/2^25 expected bucket sizes (collision-bounded, not n^2/64). The "
    "oracle is the all-pairs formulation, so the check proves "
    "blocked == all-pairs.",
    oracle=f"""
        WITH s AS ({_o_simhash()})
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
    """,
    tags=("llm", "dedup", "simhash", "join"),
)
def q34_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No spread (r16 quiet-window correction): the simhash projection is
    # cheap JVM hashing per row, while the spread exchange ships the full
    # text payload — shuffling heavy bytes to parallelize cheap work is a
    # net loss (guide §2.3; alternating-order A/B read 1.31x, 1/8 passes
    # won — scripts/probe_r16_spread_ab.json). Contrast q26/q27, whose
    # per-row regex/annotation work is heavy enough that spread wins
    # (on/off ratio q26 0.61, 1.64x; q27 0.49, 2.04x — same probe).
    return simhash_neardup_pairs(load_table(spark, sf_dir, "documents"))


def _o_cosine(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))"
        f" * sqrt(list_sum(list_transform(range(1, len({b}) + 1), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE))))"
    )


@query(
    "q35_cosine_topk",
    f"Brute-force cosine top-{ANN_TOP_K} for {len(QUERY_VEC_IDS)} query "
    "vectors: broadcast queries, one corpus scan, per-query window top-k. "
    "The double fold is sequential in both engines -> bit-identical "
    "cosines, no rounding needed.",
    oracle=f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
                   WHERE vec_id IN ({", ".join(map(str, QUERY_VEC_IDS))})),
        scored AS (
            SELECT qid, vec_id, {_o_cosine('embedding', 'qvec')} AS cosine
            FROM embeddings, q WHERE vec_id <> qid
        )
        SELECT qid, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
            FROM scored
        ) WHERE rank <= {ANN_TOP_K}
    """,
    tags=("llm", "similarity", "topk"),
)
def q35_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(
        load_table(spark, sf_dir, "embeddings", spread=True), QUERY_VEC_IDS
    )


@query(
    "q36_cosine_neardup_pairs",
    f"Embedding near-dup pairs (cosine >= {COSINE_NEARDUP_THRESHOLD}), "
    "exact all-pairs at oracle scale; ann_lsh buckets + exact re-score "
    "replace the cross join at 100 TB.",
    oracle=f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_o_cosine('a.embedding', 'b.embedding')} AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_o_cosine('a.embedding', 'b.embedding')} >= {COSINE_NEARDUP_THRESHOLD}
    """,
    tags=("llm", "similarity", "join"),
)
def q36_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Block count from parquet-footer metadata (driver-side, memoized)
    # instead of the operator's eager df.count() — one whole Spark job
    # per plan build (r16 decomposition: ~0.3-2 s of q36's build phase).
    # Same formula, still corpus-size-derived; n_blocks shapes only the
    # block decomposition (the pair set is identical for any count), and
    # a layout that defeats footer counting falls back to the operator's
    # distributed count.
    import math

    from weather_monitoring_spark.operators.similarity import GEMM_BLOCK_ROWS
    from weather_monitoring_spark.sources.tables import table_rows

    rows = table_rows(sf_dir, "embeddings")
    n_blocks = None if rows is None else max(8, math.ceil(rows / GEMM_BLOCK_ROWS))
    return cosine_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), n_blocks=n_blocks
    )


def _o_lsh_bucket(table: int, vec: str = "embedding", dim: int = 64) -> str:
    """DuckDB bucket signature for one LSH table: plane entries are the
    SAME md5-derived ±1s as the Spark side (hyperplane_matrix), baked in
    as literals. The per-plane sum is the identical left-associated term
    chain in identical order, so the sign — and hence every bucket — is
    bit-for-bit the Spark expr derivation's (and the registered GEMM
    derivation is proven equal to the expr one by test on this corpus)."""
    from weather_monitoring_spark.operators.similarity import (
        PLANES_PER_TABLE,
        hyperplane_matrix,
    )

    planes = hyperplane_matrix(dim)
    parts = []
    for i in range(PLANES_PER_TABLE):
        p = table * PLANES_PER_TABLE + i
        terms = " + ".join(
            f"({'1.0' if planes[p, j] > 0 else '-1.0'}) * {vec}[{j + 1}]::DOUBLE"
            for j in range(dim)
        )
        parts.append(f"(CASE WHEN ({terms}) > 0 THEN {2 ** i} ELSE 0 END)")
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


def _o_ann_lsh_topk() -> str:
    from weather_monitoring_spark.operators.similarity import LSH_TABLES

    buckets = ",\n               ".join(
        f"{_o_lsh_bucket(t)} AS b{t}" for t in range(LSH_TABLES)
    )
    same_bucket = " OR ".join(f"s.b{t} = q.b{t}" for t in range(LSH_TABLES))
    qids = ", ".join(map(str, QUERY_VEC_IDS))
    return f"""
        WITH sig AS (
            SELECT vec_id, embedding,
               {buckets}
            FROM embeddings
        ),
        q AS (SELECT * FROM sig WHERE vec_id IN ({qids})),
        cand AS (
            SELECT DISTINCT q.vec_id AS qid, s.vec_id
            FROM sig s, q
            WHERE s.vec_id <> q.vec_id AND ({same_bucket})
        ),
        scored AS (
            SELECT c.qid, c.vec_id, {_o_cosine('e.embedding', 'qe.embedding')} AS cosine
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN embeddings qe ON qe.vec_id = c.qid
        )
        SELECT qid, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
            FROM scored
        ) WHERE rank <= {ANN_TOP_K}
    """


@query(
    "q37_ann_lsh_topk",
    "Approximate top-k via 16 deterministic random-hyperplane LSH buckets "
    "+ exact cosine within bucket — the physically-partitionable ANN path "
    "for 100 TB. Recall vs brute force is probabilistic by design, but the "
    "RESULT is a deterministic function of the data (md5-derived planes, "
    "no RNG), so it carries a full oracle: the DuckDB side rebuilds every "
    "bucket from the same ±1 plane literals in the same summation order.",
    oracle=_o_ann_lsh_topk(),
    tags=("llm", "similarity", "approx"),
)
def q37_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_lsh_topk(load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS)


@query(
    "q50_dedup_survivors",
    "The composed dedup pipeline: MinHash-LSH candidates -> exact Jaccard "
    "verification restricted to candidates (ngram_jaccard_verify) -> "
    "greedy survivor selection (a doc is dropped iff it has a verified "
    "near-dup with a smaller id). The expensive stage is bounded by the "
    "cheap one — exact Jaccard touches only candidate pairs, which is the "
    "whole point of running LSH first at 100 TB. The oracle composes the "
    "same pipeline (band CTEs + candidate-bounded verification), so the "
    "check covers the composition semantics, not just the end state.",
    oracle=f"""
        WITH {o_band_candidates()},
        {O_FILTERED_SH},
        shared AS (
            SELECT c.id_a, c.id_b, count(*) AS shared
            FROM cand c
            JOIN sh a ON a.id = c.id_a
            JOIN sh b ON b.id = c.id_b AND b.s = a.s
            GROUP BY 1, 2
        ),
        dup_pairs AS (
            SELECT id_a, id_b
            FROM shared JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
            WHERE shared * 1.0 / (x.n + y.n - shared) >= {JACCARD_THRESHOLD}
        )
        SELECT doc_id, doc_id NOT IN (SELECT id_b FROM dup_pairs) AS survives
        FROM documents
    """,
    tags=("llm", "dedup", "pipeline"),
)
def q50_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pinned two-column load: this query walks the table three times
    # (LSH signatures, shingle verify, final survivor join), and on a
    # degenerate single-row-group layout each walk re-paid the
    # single-threaded text decode (~0.7 s of the r15 build profile) —
    # the pin shares one decode across all three branches.
    docs = load_table(
        spark, sf_dir, "documents", spread=True, pin=("doc_id", "text")
    )
    # Guard cutoffs from footer metadata (exact count(*), no in-plan
    # count aggregates — see _doc_guard_cutoffs).
    band_cut, shingle_cut = _doc_guard_cutoffs(sf_dir)
    # LSH candidates first (cheap); exact Jaccard ONLY on candidates.
    candidates = minhash_lsh_pairs(docs, max_band_df=band_cut)
    verified = ngram_jaccard_verify(
        docs, candidates, max_shingle_df=shingle_cut
    )
    dropped = verified.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.select("doc_id").join(
        dropped.withColumn("_d", F.lit(True)), "doc_id", "left"
    ).select("doc_id", F.coalesce(~F.col("_d"), F.lit(True)).alias("survives"))


@query(
    "q51_corpus_curation",
    "End-to-end training-corpus curation: quality-gate each document "
    "(length, alpha ratio, stopword floor), attach token budgets, report "
    "the kept set — the canonical filter step of an LLM data pipeline.",
    oracle=f"""
        WITH feat AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) AS alpha_ratio,
                   CAST(len(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}', 0)) AS BIGINT) AS bpe_tokens,
                   len(list_filter({o_tokens('text')}, t -> list_contains({list(LANG_LEXICONS['en'])}, t))) * 1.0
                     / greatest(len({o_tokens('text')}), 1) AS stopword_ratio
            FROM documents
        )
        SELECT doc_id, n_chars, bpe_tokens,
               n_chars >= 100 AND alpha_ratio >= 0.6 AND stopword_ratio >= 0.01 AS keep
        FROM feat
    """,
    tags=("llm", "text", "pipeline"),
)
def q51_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_monitoring_spark.operators.textops import text_stats, token_counts

    docs = load_table(spark, sf_dir, "documents", spread=True)
    stats = text_stats(docs).select("doc_id", "n_chars", "alpha_ratio", "stopword_ratio")
    tokens = token_counts(docs).select("doc_id", "bpe_tokens")
    return (
        stats.join(tokens, "doc_id")
        .select(
            "doc_id",
            "n_chars",
            "bpe_tokens",
            (
                (F.col("n_chars") >= 100)
                & (F.col("alpha_ratio") >= 0.6)
                & (F.col("stopword_ratio") >= 0.01)
            ).alias("keep"),
        )
    )


@query(
    "q52_json_extraction",
    "Semi-structured column handling: extract typed fields from the "
    "events.props JSON string (get_json_object / ->> are both "
    "pushdown-friendly projections; at scale you'd hoist hot JSON fields "
    "into materialized columns exactly like this).",
    oracle="""
        SELECT event_id,
               CAST(props->>'$.k' AS INTEGER) AS k_value,
               CAST(props->>'$.k' AS INTEGER) % 10 AS k_bucket,
               props->>'$.missing' IS NULL AS missing_is_null
        FROM events
    """,
    tags=("llm", "json"),
)
def q52_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k_value"),
        (k % 10).alias("k_bucket"),
        F.get_json_object("props", "$.missing").isNull().alias("missing_is_null"),
    )


@query(
    "q59_deterministic_split",
    "Reproducible train/val/test split by content hash (md5 of the stable "
    "id, mod 100): the split survives reshuffles, re-partitioning, and "
    "re-runs on any engine — the correct pattern for dataset versioning "
    "(never rand(), never row position).",
    oracle="""
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)) AS BIGINT) % 100 AS bucket,
               CASE
                 WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                 WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents
    """,
    tags=("llm", "split"),
)
def q59_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':split')), 1, 8), 16, 10) AS BIGINT) % 100"
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


def _o_byte(hex_col: str, i: int) -> str:
    """DuckDB: byte ``i`` (0-based) of the UTF-8 payload built from hex
    string ``hex_col`` — the payload IS the ASCII hex text, so byte i is
    just the character code (computable without any binary functions)."""
    return f"ascii(substr({hex_col}, {i + 1}, 1))"


@query(
    "q61_multimodal_decode",
    "Multimodal binary-column processing with correctness standing: build "
    "an asset table (binary payload = UTF-8 bytes of a deterministic "
    "md5-chain string per document), filter to images BEFORE the Python "
    "boundary, decode via the Arrow-batched mapInPandas operator "
    "(operators/multimodal.decode_images — the real 100 TB plumbing; "
    "only the pixel math is the deterministic fake codec), and emit "
    "dims/digest/features. The oracle recomputes the fake decode "
    "arithmetic (sha256 digest, byte-derived dims, float32-quantized "
    "features) from the same payload text in SQL, so even the Python "
    "stage is value-hash-checked. The feature vector is projected into "
    "scalar columns f0..f7 here because the driver's hash canonicalizer "
    "cannot factorize list cells; the array-typed form keeps its own "
    "oracle standing as x_multimodal_decode_array in extra_checks.py.",
    oracle=f"""
        WITH a AS (
            SELECT doc_id AS asset_id, md5(text) AS h1, md5(text || ':p') AS h2
            FROM documents WHERE doc_id % 3 = 0
        )
        SELECT asset_id,
               'image' AS kind,
               CAST(64 + {_o_byte('h1', 0)} % 192 AS INT) AS width,
               CAST(64 + {_o_byte('h1', 1)} % 192 AS INT) AS height,
               CAST(1 + {_o_byte('h1', 2)} % 3 AS INT) AS channels,
               sha256(h1 || h2) AS sha256,
               {", ".join(
                   f"CAST(CAST({_o_byte('h1', i)} / 255.0 AS FLOAT) AS DOUBLE) AS f{i}"
                   for i in range(8)
               )}
        FROM a
    """,
    tags=("llm", "multimodal", "pandas-udf"),
)
def q61_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_monitoring_spark.operators.multimodal import decode_images

    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit(":p")))),
            "UTF-8",
        ).alias("payload"),
    )
    decoded = decode_images(assets)
    return decoded.select(
        "asset_id",
        "kind",
        "width",
        "height",
        "channels",
        "sha256",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )


@query(
    "q60_stratified_sample",
    "Deterministic stratified sampling — downsample the majority classes "
    "(click/view at 10%) by thresholding a per-row md5-derived uniform, "
    "so the SAME rows are kept on every run, engine, and partitioning "
    "(content-addressed sampling, like q59's split). Fully oracle-checked; "
    "the RNG-based sampleBy surface (engine-specific Bernoulli draws by "
    "design) is exercised in tests/test_llm_ops.py.",
    oracle="""
        SELECT event_id, ts, user_id, event_type, value, props
        FROM events
        WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
              / 4294967296.0
              < CASE WHEN event_type IN ('click', 'view') THEN 0.1 ELSE 1.0 END
    """,
    tags=("llm", "sample"),
)
def q60_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = F.expr(
        "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
        " / 4294967296.0"
    )
    frac = F.when(F.col("event_type").isin("click", "view"), F.lit(0.1)).otherwise(
        F.lit(1.0)
    )
    return ev.filter(u < frac).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
