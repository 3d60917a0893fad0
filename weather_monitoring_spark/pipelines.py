"""The composed crawl-curation pipeline — the engine's LLM-data front
door as ONE call chain, built entirely from the individually
oracle-checked operators:

  raw crawl (html, url)
    -> HTML -> text extraction        (operators/htmlops.py)
    -> URL canonicalization + dedup   (operators/urlops.py)
    -> curation gates                 (operators/quality.py)
    -> exact dedup                    (operators/dedup.py)
    -> MinHash-LSH near-dup -> quality-aware survivors
                                      (dedup.py + graph.py)
    -> benchmark decontamination      (operators/training_prep.py)
    [-> token-budget shards + manifest, when shard_dir is given]

Each stage's output is returned so callers can audit per-stage drop
counts (a curation run that cannot explain its drops is not auditable).
Every stage keeps the scale shape of its operator: URL/exact/near-dup
decisions move digests, the gates are zero-shuffle projections, and the
benchmark side of decontamination collapses to one distinct shingle
set.

End-to-end behavior is pinned by tests/test_pipeline_e2e.py against a
pure-Python simulation of the planted defect classes; the runnable,
timed version is scripts/run_curation_demo.py.

Reference parity: the reference has no curation surface; this is the
builder brief's LLM-pipeline mandate composed into a product path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weather_monitoring_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from weather_monitoring_spark.operators.graph import quality_survivors
from weather_monitoring_spark.operators.htmlops import extract_html_text
from weather_monitoring_spark.operators.quality import curate_corpus
from weather_monitoring_spark.operators.training_prep import (
    contamination_flags,
    write_training_shards,
)
from weather_monitoring_spark.operators.urlops import url_dedup


@dataclass
class CurationStages:
    """Per-stage outputs of curate_crawl (each a DataFrame; count them
    for the audit trail)."""

    extracted: DataFrame  # (doc_id, url, text)
    url_unique: DataFrame  # after URL-identity dedup
    curated: DataFrame  # after quality gates (doc_id, text, n_tokens)
    exact_unique: DataFrame | None  # after exact content dedup
    survivors: DataFrame | None  # after near-dup clustering, one per cluster
    clean: DataFrame | None  # after benchmark decontamination
    split: DataFrame | None  # leakage-safe split when split_pcts given
    manifest: DataFrame | None  # shard manifest when shard_dir given


def curate_crawl(
    crawl: DataFrame,
    bench: DataFrame | None = None,
    min_tokens: int = 20,
    score_weights: tuple[tuple[str, float], ...] | None = None,
    score_threshold: float = 0.0,
    shard_dir: str | None = None,
    shard_budget: int = 100_000,
    checkpoint: bool = True,
    token_counter=None,
    gopher_kwargs: dict | None = None,
    repetition_kwargs: dict | None = None,
    c4_kwargs: dict | None = None,
    mojibake: str | None = None,
    keep_langs: tuple[str, ...] | None = None,
    split_pcts: tuple[int, int] | None = None,
    split_salt: str | None = None,
    pre_extracted: bool = False,
    gates_only: bool = False,
) -> CurationStages:
    """Run the full crawl -> training-corpus curation chain.

    ``crawl`` needs (doc_id, html, url) — or (doc_id, text, url) with
    ``pre_extracted=True``, for sources whose extraction is already
    done (WET files via ``sources.warc.wet_to_documents``): the
    HTML-extraction stage becomes a pass-through and the text keeps the
    SOURCE's own line structure, so the line/paragraph gates (C4,
    Gopher repetition) operate on real lines. ``bench`` is the evaluation
    set to decontaminate against — when None, the decontamination stage
    is SKIPPED and ``clean`` is exactly ``survivors``. (Earlier rounds
    substituted a self-sample of the survivors, but a self-sample flags
    itself as contaminated and silently deletes genuine documents from
    the corpus; no benchmark means no decontamination, not a stand-in.)
    ``score_weights`` (optional) adds the model-based classifier gate
    (operators/scoring.py) after the rule gates: documents scoring
    below ``score_threshold`` under the supplied linear model are
    dropped in the same ``curated`` stage. ``checkpoint`` pins each
    stage boundary (eager localCheckpoint) so one stage's shuffles
    aren't re-run by the next stage's actions — the right default for
    the multi-action audit pattern; pass False to keep the whole chain
    lazy for single-action use.
    ``gates_only=True`` stops the chain at ``curated``
    (post-gate fields come back None): a caller that delegates content
    dedup elsewhere — the streaming gate stage hands it to the
    state-store engine — must not even CONSTRUCT the dedup stages,
    because construction is not free: ``quality_survivors``'s iterative
    connected-components EXECUTES per-iteration localCheckpoints at
    build time and the MinHash/LSH expression forest costs seconds of
    py4j/parse round trips (profiled: ~6.5 s of the streaming gate
    stage's 13.5 s/batch was building+running dedup machinery whose
    output was discarded — r15, probe_streaming_gate_decomp.json).
    With ``checkpoint=True`` it pins ``extracted`` and ``curated`` only.
    ``token_counter`` (see
    operators/training_prep.TokenCounter) selects the shard-budget
    denomination — pass ``operators.tokenize.bpe_token_counter()`` for
    tokenizer-faithful budgets; None keeps the whitespace counter.
    ``gopher_kwargs`` (optional) adds the full Gopher rule set
    (operators/quality.gopher_rules) as a second rule gate in the same
    ``curated`` stage, applied to the normalized text with the given
    threshold overrides (``{}`` for the paper defaults) — like every
    gate, it stays a zero-shuffle projection.
    ``repetition_kwargs`` (optional) adds the Gopher REPETITION rule
    set (Table A1 section A1.2, operators/quality.gopher_repetition_rules)
    as a gate right after URL dedup — PRE-rewrite, where the published
    pipeline ran it, because both c4's line rejoin and curate_corpus's
    normalization destroy the line/paragraph structure its signals
    need. Its presence also switches extraction to paragraphs=True
    (block closers -> blank line) so the \\n{2,} paragraph rules can
    actually fire; with ``pre_extracted=True`` the gate sees the
    source's own structure instead. (``{}`` for the paper thresholds;
    Arrow-batched signals, still shuffle-free.) Its filtered docs are
    reflected in the ``curated`` stage count together with the other
    gates.
    ``c4_kwargs`` (optional) applies the C4 cleaning rule set
    (operators/quality.c4_rules) BEFORE normalization — it is the only
    gate that REWRITES text (drops non-prose lines), so it runs first,
    where C4 ran in the published pipeline; pages failing its page-level
    drops (brace / lorem ipsum / bad words / < 5 sentences) are gone
    from ``curated`` onward.
    ``mojibake`` (optional, "table" or "full") repairs windows-1252
    encoding damage in place right after HTML extraction
    (operators/textops.fix_mojibake), so every downstream gate and
    signal sees repaired text.
    ``keep_langs`` (optional) keeps only documents whose trigram
    language-ID prediction (operators/langid.lang_id_trigram) is in the
    tuple — unlike the rule gates this is NOT a projection (lang-id
    aggregates trigram hits), so it costs one left-semi join in the
    ``curated`` stage; the lang-id side shuffles (doc_id, lang) pairs
    only, never the text.
    ``split_pcts`` (optional) = (train_pct, val_pct): assign every
    ``clean`` document a leakage-safe train/val/test split
    (operators/graph.leakage_safe_split) keyed on its NEAR-DUP CLUSTER
    label over the pipeline's own LSH pair graph — not its doc id — so
    a document's split is stable no matter which cluster member
    survived dedup, and any near-dup pair that (under a looser dedup
    policy) reaches the corpus lands in the same split by construction.
    The cluster labels come from the pre-survivor pair graph on
    ``exact_unique``; the returned ``split`` frame is restricted to
    ``clean`` docs. ``split_salt`` overrides the split hash salt.
    """

    # doc_id must be integral (the sources' DOCUMENTS_SCHEMA contract;
    # warc asset_ids are digest ints): the dedup-cluster stage casts
    # cluster labels to long, and under ANSI a string id would fail
    # DEEP in codegen with CAST_INVALID_INPUT instead of here.
    id_type = dict(crawl.dtypes).get("doc_id")
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"curate_crawl: doc_id must be an integral type, got "
            f"{id_type!r} — cast ids to bigint (sources.jsonl/csv/warc "
            f"already do)"
        )

    if not isinstance(checkpoint, bool):
        raise TypeError(f"checkpoint must be a bool, got {checkpoint!r}")

    def pin(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True) if checkpoint else df

    if pre_extracted:
        extracted = crawl.select("doc_id", "url", "text")
    else:
        extracted = (
            # the line/paragraph gates need structure in the extracted
            # text, so their presence switches the extraction mode:
            # lines=True (block closers -> line breaks) for either
            # gate, paragraphs=True (block closers -> BLANK line, <br>
            # -> line break) when the repetition gate is on — its
            # frac_dup_paragraphs / frac_chars_dup_paragraphs rules
            # split on \n{2,}, which plain lines=True output (newline
            # runs folded to one \n) can never contain.
            extract_html_text(
                crawl,
                lines=c4_kwargs is not None or repetition_kwargs is not None,
                paragraphs=repetition_kwargs is not None,
            )
            .join(crawl.select("doc_id", "url"), "doc_id")
            .select("doc_id", "url", "text")
        )
    if mojibake is not None:
        from weather_monitoring_spark.operators.textops import (
            mojibake_fixed_col,
        )

        extracted = extracted.withColumn(
            "text", mojibake_fixed_col(F.col("text"), mode=mojibake)
        )
    extracted = pin(extracted)

    url_keep = url_dedup(extracted).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    # url_unique is referenced exactly once downstream (the gated ->
    # curated chain), and the projection-collapse blowup this stage's
    # pin guarded against is already stopped by the EXTRACTED pin (the
    # gate signals reference the pin's text attribute, not an inlined
    # extraction expression). With gates_only — the per-trigger
    # streaming caller — the pin was therefore a pure extra
    # materialization job per micro-batch (r16 trigger decomposition);
    # audit counting over the full chain still pins.
    url_unique = extracted.join(url_keep, "doc_id", "left_semi")
    if not gates_only:
        url_unique = pin(url_unique)

    gated = url_unique
    if repetition_kwargs is not None:
        from weather_monitoring_spark.operators.quality import (
            gopher_repetition_rules,
        )

        # The repetition gate runs PRE-rewrite, on the extraction's own
        # line/paragraph structure (where the published pipeline ran
        # it): c4's text_clean rejoins kept lines with a single \n and
        # curate_corpus normalizes whitespace, so running it any later
        # silently zeroes the line/paragraph signals (the r9 advisor
        # finding — the gate was degenerate downstream).
        gated = (
            gopher_repetition_rules(
                gated, carry=("url", "text"), **repetition_kwargs
            )
            .filter(F.col("verdict") == "kept")
            .select("doc_id", "url", "text")
        )
    if c4_kwargs is not None:
        from weather_monitoring_spark.operators.quality import c4_rules

        # line-level rewrite + page-level drops; url_unique is already
        # pinned, so the line signals can't re-inline the extraction
        gated = (
            c4_rules(gated, carry=("url",), **c4_kwargs)
            .filter(F.col("verdict") == "kept")
            .select("doc_id", "url", F.col("text_clean").alias("text"))
        )
    curated = (
        curate_corpus(gated, min_tokens=min_tokens)
        .filter(F.col("verdict") == "kept")
        .select("doc_id", F.col("text_norm").alias("text"), "n_tokens")
    )
    if (
        gopher_kwargs is not None
        or score_weights is not None
        or keep_langs is not None
    ):
        # Materialization barrier before the optional gates: without it,
        # projection collapse re-inlines curate_corpus's text_norm
        # expression into EVERY signal column of the next gate (~6
        # evaluations of the normalization chain per row — measured 25x
        # on the gopher gate at 100k pages: 58.5 s fused vs 2.3 s
        # pinned). With checkpoint=False the caller keeps the fused
        # single-pass plan and pays that blowup knowingly.
        curated = pin(curated)
    if gopher_kwargs is not None:
        from weather_monitoring_spark.operators.quality import gopher_rules

        # carry= keeps the payload in the verdict projection, so the
        # gate is a filter over one Project chain — no join, no
        # exchange (the docstring's zero-shuffle claim, made literal).
        curated = (
            gopher_rules(curated, carry=("text", "n_tokens"), **gopher_kwargs)
            .filter(F.col("verdict") == "kept")
            .select("doc_id", "text", "n_tokens")
        )
    if keep_langs is not None:
        from weather_monitoring_spark.operators.langid import lang_id_trigram

        lang_ids = (
            lang_id_trigram(curated)
            .filter(F.col("pred_lang").isin(list(keep_langs)))
            .select("doc_id")
        )
        curated = curated.join(lang_ids, "doc_id", "left_semi")
    if score_weights is not None:
        from weather_monitoring_spark.operators.scoring import quality_scores

        kept = quality_scores(
            curated, weights=score_weights, threshold=score_threshold
        ).filter(F.col("keep"))
        curated = curated.join(
            kept.select("doc_id"), "doc_id", "left_semi"
        )
    curated = pin(curated)

    if gates_only:
        return CurationStages(
            extracted=extracted,
            url_unique=url_unique,
            curated=curated,
            exact_unique=None,
            survivors=None,
            clean=None,
            split=None,
            manifest=None,
        )

    exact_keep = exact_dedup(curated).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    exact_unique = pin(
        curated.join(exact_keep, "doc_id", "left_semi")
    )

    pairs = minhash_lsh_pairs(exact_unique).select("id_a", "id_b")
    surv_ids = quality_survivors(
        exact_unique, pairs, quality=F.col("n_tokens").cast("double")
    ).filter(F.col("survivor"))
    survivors = pin(
        exact_unique.join(surv_ids.select("doc_id"), "doc_id", "left_semi")
    )

    if bench is None:
        # Visible skip: callers relying on decontamination must pass a
        # benchmark table — None means the stage does not run at all
        # (r5 fix; a self-sample stand-in deleted genuine documents).
        import warnings

        warnings.warn(
            "curate_crawl: bench is None — decontamination SKIPPED "
            "(clean == survivors). Pass the evaluation set to enable it.",
            stacklevel=2,
        )
        clean = survivors
    else:
        flags = contamination_flags(survivors, bench)
        clean = pin(
            survivors.join(
                flags.filter(~F.col("contaminated")).select("doc_id"),
                "doc_id",
                "left_semi",
            )
        )

    split = None
    if split_pcts is not None:
        from weather_monitoring_spark.operators.graph import leakage_safe_split

        kwargs = {"train_pct": split_pcts[0], "val_pct": split_pcts[1]}
        if split_salt is not None:
            kwargs["salt"] = split_salt
        # Cluster labels over the FULL pre-survivor pair graph, then
        # restricted to the final corpus: the label (min id of the
        # near-dup component) is identical for every member, so the
        # surviving copy inherits the split its whole cluster shares.
        split = pin(
            leakage_safe_split(exact_unique, pairs, **kwargs).join(
                clean.select("doc_id"), "doc_id", "left_semi"
            )
        )

    manifest = None
    if shard_dir is not None:
        manifest = write_training_shards(
            clean.select("doc_id", "text"),
            shard_dir,
            budget=shard_budget,
            shuffle=True,
            token_counter=token_counter,
        )

    return CurationStages(
        extracted=extracted,
        url_unique=url_unique,
        curated=curated,
        exact_unique=exact_unique,
        survivors=survivors,
        clean=clean,
        split=split,
        manifest=manifest,
    )


def curation_report(stages: CurationStages) -> list[dict]:
    """The audit trail as data: per-stage surviving counts, per-stage
    drops, and drop percentages, in pipeline order. Returns a plain
    list of dicts (it IS driver-side by nature — six counts over pinned
    frames; a DataFrame would suggest distributed work that isn't
    there). A curation run that cannot explain its drops is not
    auditable — this makes the explanation one call."""
    order = [
        ("extracted", stages.extracted),
        ("url_unique", stages.url_unique),
        ("curated", stages.curated),
        ("exact_unique", stages.exact_unique),
        ("survivors", stages.survivors),
        ("clean", stages.clean),
    ]
    rows: list[dict] = []
    prev = None
    for name, df in order:
        n = df.count()
        dropped = (prev - n) if prev is not None else 0
        rows.append(
            {
                "stage": name,
                "rows": n,
                "dropped": dropped,
                "dropped_pct": round(100.0 * dropped / prev, 3) if prev else 0.0,
            }
        )
        prev = n
    if stages.manifest is not None:
        rows.append(
            {
                "stage": "shards",
                "rows": stages.manifest.count(),
                "dropped": 0,
                "dropped_pct": 0.0,
            }
        )
    return rows
