"""User-facing pipeline facade: the reference's notebook workflows as
four composable calls over DataFrames.

The reference team's daily loop (SURVEY §3) is: ingest pages →
classify documents → extract fields per doc type → normalize →
evaluate against golden truth. Each step below is a thin veneer over
the engine's operators — everything returns a DataFrame, so steps
compose, Catalyst optimizes across them, and any step slots into a
bigger plan.

    from data_ingestion_task_spark import api
    docs   = api.ingest_documents(raw_pages)            # §2.1-2.2
    labeled = api.classify_documents(docs, index_docs)  # §2.6 kNN vote
    fields = api.extract_documents(docs, doc_type="pbst")  # §2.9
    report = api.evaluate_extraction(fields, gt_long)   # §2.12
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import normalize as N
from .functions.text import explode_chunks, hash64
from .operators.confirm import confirm_documents
from .operators.encode import hashing_encoder_udf
from .operators.extract import extract_fields
from .operators.knn import knn_join_exact
from .operators.schemas import (
    INVOICE_FIELDS,
    PBST_FIELDS,
    W2_FIELDS,
    line_patterns,
)
from .static_columns import build_once
from .streaming.ingest import ingest_transform

DOC_TYPE_FIELDS = {
    "w2": W2_FIELDS,
    "pbst": PBST_FIELDS,
    "invoice": INVOICE_FIELDS,
}


def ingest_documents(docs: DataFrame) -> DataFrame:
    """Consolidate raw documents: lengths, content fingerprint,
    language guess, quality score (the OCR-agent standard schema).
    Expects columns ``doc_id, text, source``."""
    return ingest_transform(docs)


def classify_documents(
    query_docs: DataFrame,
    index_docs: DataFrame,
    label_col: str = "label",
    k: int = 3,
    chunk_size: int = 64,
    overlap: int = 16,
    encoder=None,
    dim: int = 16,
    max_index_rows: int | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """kNN document classification from raw text (the Faiss_2_10
    lifecycle): chunk both sides, encode (deterministic hashing default;
    pass ``encoder=`` for a real model), cosine top-k per chunk,
    majority vote per document. Returns ``doc_id, pred_label, n_votes``.

    ``query_docs``: ``doc_id, text``; ``index_docs``: ``doc_id, text,
    {label_col}``. Production callers classifying against a FROZEN
    corpus repeatedly pass ``codebook=`` (a trained coarse codebook
    over the index side's CHUNK embeddings — ``train_ivf_codebook`` on
    a sample of them) and the above-cap route becomes IVF-PQ instead
    of LSH (PQ codes through the cell shuffle, the ``knn_topk``
    docstring's byte-width argument) — the same
    choose-the-index-once-at-setup step as the reference's FAISS
    pipeline (faiss_implimentation.py:164-173). Below the cap the
    codebook is unused: results stay exact. The result holds two
    persisted chunk-embedding frames (``_cached_deps``); long-lived
    sessions should call ``api.release(result)`` after collecting."""
    enc = encoder or hashing_encoder_udf(dim)

    def embed(df: DataFrame, extra: list[str]) -> DataFrame:
        ch = explode_chunks(
            df, text_col="text", id_cols=["doc_id", *extra],
            chunk_size=chunk_size, overlap=overlap,
        )
        # chunk key: 64-bit hash of (doc_id, chunk_idx) — works for any
        # doc_id type and any chunk count (collision odds ~2^-64/pair)
        return ch.select(
            "doc_id", *extra,
            F.xxhash64(F.col("doc_id"), F.col("chunk_idx")).alias("cid"),
            enc(F.col("chunk_text")).alias("embedding"),
        )

    q = embed(query_docs, []).select(
        F.col("cid").alias("query_id"), F.col("doc_id").alias("qdoc"), "embedding"
    ).persist()
    x = embed(index_docs, [label_col]).select(
        F.col("cid").alias("neighbor_id"), F.col(label_col).alias("_lbl"), "embedding"
    ).persist()
    # Size-routed: exact broadcast kNN below the cap (identical results),
    # deterministic-LSH above it — the facade must not hard-fail at the
    # scale it advertises. x is persisted, so the routing count
    # materializes the cache the exact path's collect then reads.
    from .operators.knn import DEFAULT_MAX_INDEX_ROWS, knn_topk

    topk = knn_topk(
        x.select("neighbor_id", "embedding"),
        q.select("query_id", "embedding"),
        k=k,
        dim=dim,
        max_index_rows=max_index_rows or DEFAULT_MAX_INDEX_ROWS,
        codebook=codebook,
    )
    votes = (
        topk.join(q.select("query_id", "qdoc"), "query_id")
        .join(x.select("neighbor_id", "_lbl"), "neighbor_id")
        .groupBy(F.col("qdoc").alias("doc_id"), F.col("_lbl").alias("pred_label"))
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_votes"), F.asc("pred_label"))
    out = (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )
    # knn_topk persists its (projected) index side for the routing
    # count — merge its cache handle so api.release frees everything.
    out._cached_deps = [q, x, *getattr(topk, "_cached_deps", [])]
    return out


def extract_documents(
    docs: DataFrame,
    doc_type: str,
    normalize: bool = True,
) -> DataFrame:
    """Deterministic line-pattern extraction with the doc type's fixed
    field schema (swap in a model stage via operators/extract for
    production). ``normalize=True`` applies the §2.7 post-processors to
    the fields they own (money/date/acct/vendor); that projection
    depends on ``doc_type`` only and is built once per JVM
    (``static_columns.build_once``)."""
    fields = DOC_TYPE_FIELDS[doc_type]
    out = extract_fields(docs, line_patterns(fields))
    if not normalize:
        return out
    parse, show = build_once(("normalized", doc_type), lambda: _normalized_projection(fields))
    return out.select(*parse).select(*show)


def _normalized_projection(fields: list[str]) -> tuple[list[Column], list[Column]]:
    """The two selects of a normalized extraction. Money is projected
    in two steps, ``money_decimal`` then ``format_money``: the format
    references its input four times, so composing the two in one
    select (``money_or_null``) would put four copies of every parse
    in the plan. Every other field is normalized in the first select
    and passed through by the second."""
    parse, show = [F.col("doc_id")], [F.col("doc_id")]
    for f in fields:
        lf = f.lower()
        col = F.col(f"`{f}`")
        if "date" in lf:
            norm = N.date_sane(col)
        elif any(t in lf for t in ("amount", "charges", "credits", "due", "wage", "withhold", "tips")):
            parse.append(N.money_decimal(col).alias(f))
            show.append(N.format_money(col).alias(f))
            continue
        elif "account" in lf and "number" in lf:
            norm = N.acct_last4(col)
        elif "vendor" in lf:
            norm = N.normalize_vendor(col)
        else:
            norm = F.trim(col)
        parse.append(norm.alias(f))
        show.append(col)
    return parse, show


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = None,
    lang_cap: int = 60,
    source_col: str | None = None,
    domain_cap: int = 30,
    ppx_scores: DataFrame | None = None,
    ppx_band: tuple[float, float] | None = None,
    dsir_scores: DataFrame | None = None,
    dsir_floor: float | None = None,
    dsir_target: Column | None = None,
) -> DataFrame:
    """Training-corpus curation in one call: the registered quality /
    dedup / selection operators composed the way a pretraining build
    runs them. Returns one row per input doc with an auditable flag
    per stage and the conjunction ``keep``:

    - Gopher rule flags + ``quality_keep`` (plans/quality_plans
      ``gopher_flags`` — exact integer arithmetic);
    - ``exact_dup`` — not the first occurrence (lowest ``id_col``) of
      a normalized-content md5 fingerprint;
    - ``lang_kept`` / ``source_kept`` (when ``lang_col`` /
      ``source_col`` are given) — survived the deterministic
      hash-ranked per-language / per-domain caps
      (plans/selection_plans ``capped_by_key``, same salts as the
      registered queries);
    - ``ppx_kept`` (when ``ppx_band`` is given) — the doc's
      ``avg_nll`` lies inside ``[lo, hi]``: the CCNet-style
      perplexity band. Fed by ``ppx_scores`` (the certified
      ``char_trigram_perplexity`` output, or any ``(id, avg_nll)``
      frame); when ``ppx_scores`` is omitted the scores are computed
      HERE from the raw docs via the same certified library function
      (``functions.corpus_scores.trigram_nll``). Docs absent from the
      score frame (e.g. shorter than one trigram — no model support)
      are NOT kept, matching CCNet's treatment of unscorable
      fragments;
    - ``dsir_kept`` (when ``dsir_floor`` is given) —
      ``dsir_logweight ≥ floor``: the DSIR importance floor, fed by
      ``dsir_scores`` (the certified ``dsir_importance_weights``
      output, or any ``(id, dsir_logweight)`` frame); when
      ``dsir_scores`` is omitted the weights are computed HERE via
      ``functions.corpus_scores.dsir_logweights``, which then
      requires ``dsir_target`` (the in-domain predicate, e.g.
      ``F.col("lang") == "en"``). Absent docs are NOT kept. A score
      frame with repeated ids never duplicates output rows: the doc
      is kept if ANY of its score rows passes.

    FLAG SEMANTICS (independent stages, by design): every flag is
    computed over the FULL input, not over the other stages'
    survivors — so the per-language/per-domain cap slots can be
    consumed by docs another stage drops, and the post-filter corpus
    may land under the caps. That is what makes each flag auditable
    in isolation (each column reproduces its registered query's
    verdict on the same input). When the caps must bind on the final
    corpus exactly, run two passes: ``filter(keep)`` on a first call
    WITHOUT caps, then a second call with only the caps. ``keep`` is
    always a non-NULL boolean: a NULL ``text_col`` yields NULL Gopher
    metrics, which coalesce to ``quality_keep = false`` (a doc with
    no text fails quality, it doesn't escape the filter).

    The score-frame ARGUMENTS remain the production path because they
    are corpus-level artifacts a pretraining build materializes once
    and reuses across curation sweeps — banding/flooring is a cheap
    broadcast-or-shuffle join on ``id_col``, re-scoring is a full
    corpus pass. The raw-docs path (band/floor without a score frame)
    trades that pass for convenience on one-shot sweeps; when it
    computes perplexity itself, the library's persisted trigram grain
    rides out on ``_cached_deps`` (release via ``api.release`` after
    collecting).

    Every stage is a column projection, hash aggregate, or bounded
    window — no Python boundary, no collect; filter ``keep`` and join
    back on ``id_col`` for the surviving corpus. Near-dup stages
    (MinHash/SemDeDup) are deliberately separate operators: they need
    corpus-level tuning before a blanket drop (see plans/dedup_plans,
    plans/embedding_curation_plans)."""
    from .functions.corpus_scores import dsir_logweights, trigram_nll
    from .functions.text import fingerprint_md5
    from .plans.quality_plans import gopher_flags
    from .plans.selection_plans import capped_by_key

    if ppx_scores is not None and ppx_band is None:
        raise ValueError("ppx_scores and ppx_band must be passed together")
    if dsir_scores is not None and dsir_floor is None:
        raise ValueError("dsir_scores and dsir_floor must be passed together")
    if dsir_target is not None and dsir_scores is not None:
        raise ValueError(
            "dsir_target is the raw-docs scoring knob; it conflicts with a "
            "precomputed dsir_scores frame"
        )
    if dsir_target is not None and dsir_floor is None:
        # Every other dangling-knob combination raises; silently
        # skipping the DSIR stage here would let a caller who forgot
        # the floor believe the stage ran (code-review r9).
        raise ValueError(
            "dsir_target without dsir_floor does nothing — pass dsir_floor "
            "to enable the DSIR stage"
        )
    cached_deps: list[DataFrame] = []
    if ppx_band is not None and ppx_scores is None:
        ppx_scores = trigram_nll(docs, text_col=text_col, id_col=id_col)
        cached_deps.extend(ppx_scores._cached_deps)
    if dsir_floor is not None and dsir_scores is None:
        if dsir_target is None:
            raise ValueError(
                "dsir_floor without dsir_scores requires dsir_target (the "
                "in-domain predicate, e.g. F.col('lang') == 'en')"
            )
        dsir_scores = dsir_logweights(
            docs, dsir_target, text_col=text_col, id_col=id_col
        )

    q = gopher_flags(docs, text_col=text_col, keep_cols=(id_col,)).withColumnRenamed(
        "keep", "quality_keep"
    )
    wfp = Window.partitionBy("_fp").orderBy(id_col)
    fp = (
        docs.select(id_col, fingerprint_md5(F.col(text_col)).alias("_fp"))
        .withColumn("exact_dup", F.row_number().over(wfp) > 1)
        .select(id_col, "exact_dup")
    )
    carry = [c for c in (lang_col, source_col) if c]
    out = (
        docs.select(id_col, *carry)
        .join(q, id_col)
        .join(fp, id_col)
        # NULL text ⇒ NULL Gopher metrics ⇒ NULL quality_keep; a doc
        # with no text fails quality rather than making keep NULL
        # (ADVICE r7 #3).
        .withColumn("quality_keep", F.coalesce("quality_keep", F.lit(False)))
    )
    keep = F.col("quality_keep") & ~F.col("exact_dup")
    for scores, flag, pred in (
        (
            ppx_scores,
            "ppx_kept",
            (
                None
                if ppx_band is None
                else F.col("avg_nll").between(*ppx_band)
            ),
        ),
        (
            dsir_scores,
            "dsir_kept",
            (
                None
                if dsir_floor is None
                else F.col("dsir_logweight") >= F.lit(dsir_floor)
            ),
        ),
    ):
        if scores is None:
            continue
        # One flag row per id even if the score frame carries repeated
        # ids (e.g. a unioned re-scoring run): a doc is kept if ANY of
        # its score rows passes — the left join must never duplicate
        # output rows, "one row per input doc" is the facade's
        # contract (code-review r8 catch).
        flagged = (
            scores.select(id_col, F.coalesce(pred, F.lit(False)).alias(flag))
            .groupBy(id_col)
            .agg(F.max(flag).alias(flag))
        )
        out = out.join(flagged, id_col, "left").withColumn(
            flag, F.coalesce(F.col(flag), F.lit(False))
        )
        keep = keep & F.col(flag)
    for col, cap, salt, flag in (
        (lang_col, lang_cap, "lbs", "lang_kept"),
        (source_col, domain_cap, "dfc", "source_kept"),
    ):
        if not col:
            continue
        surv = (
            capped_by_key(docs.select(id_col, col), col, cap, salt=salt, id_col=id_col)
            .select(id_col)
            .withColumn(flag, F.lit(True))
        )
        out = out.join(surv, id_col, "left").withColumn(
            flag, F.coalesce(F.col(flag), F.lit(False))
        )
        keep = keep & F.col(flag)
    out = out.withColumn("keep", keep)
    if cached_deps:
        out._cached_deps = cached_deps
    return out


def release(df: DataFrame) -> None:
    """Unpersist the cached intermediates a facade result references
    (no-op for results without any). Call after collecting when the
    session lives on.

    Release is TERMINAL for the result: since ``ReleaseHandle`` made
    deps-release real for localCheckpoint()ed frames (it drops the
    truncated lineage's only materialization), any further action on
    ``df`` after ``release(df)`` may raise — previously the no-op
    unpersist left such results accidentally reusable. Collect first,
    release last."""
    for dep in getattr(df, "_cached_deps", []):
        dep.unpersist()


def evaluate_extraction(preds_long: DataFrame, gt_long: DataFrame) -> DataFrame:
    """Field-accuracy report with Overall row (metrics_8_6.py): join
    long-form predictions to long-form GT on (doc_id, field), compare
    trimmed values, rollup. Both inputs: ``doc_id, field, value``."""
    j = preds_long.alias("p").join(
        gt_long.alias("g"), ["doc_id", "field"], "full_outer"
    )
    ok = (
        F.when(F.col("p.value").isNull() & F.col("g.value").isNull(), 1)
        .when(
            F.trim(F.col("p.value")) == F.trim(F.col("g.value")), 1
        )
        .otherwise(0)
    )
    from .operators.metrics import accuracy_rollup

    return accuracy_rollup(j.select("field", ok.alias("ok")))


def save_evaluation_report(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, list[str]]:
    """Run the evaluation queries and persist their artifacts to
    ``out_dir`` — the reference's acceptance deliverable
    (classifi_confu.py:26-89 saves confusion-matrix /
    classification-report table images at the end of every eval run):
    text artifact always, PNG beside it when matplotlib is present.
    Returns ``{result_name: [written paths]}``."""
    from .plans import registry
    from .sources.reporting import save_eval_artifacts

    registry.load_all()
    results = {
        name: registry.REGISTRY[name].fn(spark, sf_dir)
        for name in ("confusion_matrix", "classification_report")
    }
    return save_eval_artifacts(results, out_dir)


def train_test_split_by_doc(
    docs: DataFrame, test_frac_mod: int = 5, id_col: str = "doc_id", salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """Leakage-free deterministic split on the document key (hash
    residue — portable and stable under repartitioning; the engine's
    replacement for sample(random_state))."""
    h = hash64(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))) % test_frac_mod
    return docs.filter(h != 0), docs.filter(h == 0)


# confirm_documents is re-exported above: the rule engine lives in
# operators/confirm.py so plan modules can use it without importing
# this facade (keeps their certification dep closure facade-free).


def confirm_payload(spark: SparkSession, payload: dict) -> dict:
    """The `/confirm-document` request handler minus the HTTP framing
    (confirmation_service.py:61-124): one request dict in, the
    decision/confidence/explanation response dict out, evaluated by
    the SAME rule engine as the batch path (confirm_documents on a
    one-row frame) so service and pipeline can never disagree.

    Expected keys: doc_first, doc_last, doc_addr, sor_first, sor_last,
    sor_addr (missing keys count as non-matches, like the reference's
    absent fields). Mount behind any HTTP framework; the engine
    deliberately ships no server (serving layer is out of scope,
    SURVEY §2.9)."""
    cols = ["doc_first", "doc_last", "doc_addr", "sor_first", "sor_last", "sor_addr"]
    # Arbitrary client JSON reaches this: coerce non-null values to str
    # so numbers/booleans get rule-evaluated instead of crashing
    # createDataFrame's all-string schema.
    row = [tuple(None if payload.get(c) is None else str(payload.get(c)) for c in cols)]
    df = spark.createDataFrame(row, ", ".join(f"{c} string" for c in cols))
    out = confirm_documents(df, *cols).select(
        "decision", "confidence", "explanation", "n_matches"
    ).collect()[0]
    return out.asDict()
