"""The benchmark workloads.

Each workload drives the engine only through its public ``api.*``
functions (and, for the traced component spans, the library
functions ``api.curate_corpus`` composes) and follows one protocol:

- ``generate(seed, work)`` writes the seeded inputs (no Spark);
- ``setup(spark)`` does the per-session preparation a user would do
  once (timed in ``setup_s``);
- ``expected(spark)`` evaluates the oracle once, outside every timing;
- ``run_pass(spark, tr)`` is one closed-loop pass; it returns the
  collected outputs;
- ``check(result)`` compares a pass's outputs with the oracle and
  returns a list of errors (empty when correct). Checks are pure
  Python over collected rows so the tests can corrupt a result;
- ``trace_extras(spark, tr)`` (traced runs only) runs, once, the
  layers the timed pass does not reach, each in its own span and
  each checked; it returns ``(step, errors)`` pairs.

With tracing on, every public call runs inside a span and its output
is materialized at the boundary, so the span holds that call's work.
"""

from __future__ import annotations

import hashlib
import os
import re

from . import gen
from .trace import Tracer

DOC_TYPES = list(gen.DOC_TYPES)


class Materializer:
    """Traced runs persist each public call's output inside its span
    so downstream calls read it instead of recomputing it; untraced
    runs leave the plan lazy, as a user of the facade would."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.held = []

    def __call__(self, df):
        if not self.enabled:
            return df
        df = df.persist()
        df.count()
        self.held.append(df)
        return df

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()


def _split_is_test(doc_id: int, mod: int = 5, salt: str = "split") -> bool:
    """``api.train_test_split_by_doc``'s documented rule, recomputed
    independently: 60-bit md5 prefix of ``salt:doc_id`` modulo ``mod``."""
    return int(hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:15], 16) % mod == 0


def certified_queries(spark, tr: Tracer, tables: str, names) -> list[tuple[str, list[str]]]:
    """Run registered queries over generated tables, each in a
    ``query.<name>`` span that collects its result, then compare each
    with the registry's DuckDB oracle (not timed)."""
    import duckdb

    from data_ingestion_task_spark import api
    from data_ingestion_task_spark.plans import registry
    from tools.check_oracle import compare

    fns, oracles = registry.queries_dict(), registry.oracle_dict()
    got = {}
    for name in names:
        with tr.span(f"query.{name}"):
            df = fns[name](spark, tables)
            got[name] = df.toPandas()
        api.release(df)
    con = duckdb.connect()
    for f in sorted(os.listdir(tables)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(tables, f)}'")
    out = []
    for name in names:
        errs = compare(name, got[name], con.execute(oracles[name]).fetchdf())
        out.append((f"query {name}", [e for e in errs if not e.startswith("NOTE")]))
    con.close()
    return out


# ---------------------------------------------------------------------------
# doc_pipeline
# ---------------------------------------------------------------------------


class DocPipeline:
    name = "doc_pipeline"
    N_PAGES = 400

    #: Table sizes of the traced certified queries.
    N_SUPPLIERS = 500
    N_VECTORS = 1000

    def generate(self, seed: int, work: str) -> None:
        g = gen.pages(seed, self.N_PAGES)
        self.work = work
        gen.write_table(g["docs"], os.path.join(work, "pages.parquet"))
        self.want_types = dict(zip(g["docs"]["doc_id"].to_pylist(), g["docs"]["doc_type"].to_pylist()))
        self.gt_path = gen.write_table(g["gt"], os.path.join(work, "gt.parquet"))
        self.sor_path = gen.write_table(g["sor"], os.path.join(work, "sor.parquet"))
        self.n_docs = self.N_PAGES
        self.want_report = gen.expected_report(g["gt_ok"])
        self.want_matches = g["n_matches"]
        self.want_queries = {i for i in range(self.N_PAGES) if _split_is_test(i)}
        self.first_preds = None
        self.tables = os.path.join(work, "tables")
        gen.write_table(gen.supplier(seed, self.N_SUPPLIERS), os.path.join(self.tables, "supplier.parquet"))
        gen.write_table(gen.embeddings(seed, self.N_VECTORS), os.path.join(self.tables, "embeddings.parquet"))

    def setup(self, spark) -> None:
        pass

    def expected(self, spark) -> None:
        pass

    def run_pass(self, spark, tr: Tracer) -> dict:
        from pyspark.sql import functions as F

        from data_ingestion_task_spark import api

        mat = Materializer(tr.enabled)
        ing, index, queries = self._split(spark, tr, mat)
        with tr.span("api.classify_documents"):
            preds = api.classify_documents(queries, index, label_col="label")
            pred_rows = [(r["doc_id"], r["pred_label"]) for r in preds.collect()]

        ext = {}
        for t in DOC_TYPES:
            with tr.span("api.extract_documents"):
                ext[t] = mat(
                    api.extract_documents(
                        ing.filter(F.col("source") == f"inbox-{t}").select("doc_id", "text"), t
                    )
                )
        long = None
        for t in DOC_TYPES:
            fields = gen.DOC_TYPES[t]
            stack = ", ".join(f"'{f}', `{f}`" for f in fields)
            part = ext[t].select(
                "doc_id", F.expr(f"stack({len(fields)}, {stack}) AS (field, value)")
            )
            long = part if long is None else long.unionByName(part)

        people = None
        for t in DOC_TYPES:
            name_f, addr_f = gen.CONFIRM_FIELDS[t]
            name = F.col(f"`{name_f}`")
            part = ext[t].select(
                "doc_id",
                F.substring_index(name, " ", 1).alias("doc_first"),
                F.substring_index(name, " ", -1).alias("doc_last"),
                (F.col(f"`{addr_f}`") if addr_f else F.lit(None).cast("string")).alias("doc_addr"),
            )
            people = part if people is None else people.unionByName(part)
        sor = spark.read.parquet(self.sor_path)
        with tr.span("api.confirm_documents"):
            conf = api.confirm_documents(
                people.join(sor, "doc_id"),
                "doc_first", "doc_last", "doc_addr", "sor_first", "sor_last", "sor_addr",
            )
            conf_rows = [
                (r["doc_id"], r["n_matches"], r["decision"])
                for r in conf.select("doc_id", "n_matches", "decision").collect()
            ]

        gt = spark.read.parquet(self.gt_path)
        with tr.span("api.evaluate_extraction"):
            report = [
                (r["field"], r["n_correct"], r["support"], r["accuracy"])
                for r in api.evaluate_extraction(long, gt).collect()
            ]
        api.release(preds)
        mat.release()
        return {"preds": pred_rows, "confirm": conf_rows, "report": report}

    def _split(self, spark, tr: Tracer, mat):
        """Ingested pages, the labeled index side and the query side."""
        from pyspark.sql import functions as F

        from data_ingestion_task_spark import api
        from data_ingestion_task_spark.sources.tables import load_table

        pages = load_table(spark, self.work, "pages").select("doc_id", "text", "source")
        with tr.span("api.ingest_documents"):
            ing = mat(api.ingest_documents(pages))
        index, queries = api.train_test_split_by_doc(ing)
        index = index.select(
            "doc_id", "text", F.regexp_replace("source", "^inbox-", "").alias("label")
        )
        return ing, index, queries.select("doc_id", "text")

    #: Share of query pages each kNN route must classify as their true
    #: type. The hashing encoder's 16-d chunk vectors leave a few pages
    #: ambiguous: over ten seeds the exact route missed 0-3 of 75 pages.
    #: A vote that ignores the text misses about two thirds.
    MIN_ACCURACY = 0.9

    def check_preds(self, preds: list[tuple[int, str]], what: str = "classify") -> list[str]:
        """One prediction per query document, and at least
        ``MIN_ACCURACY`` of them equal to the page's true type."""
        ids = [d for d, _ in preds]
        if len(ids) != len(set(ids)) or set(ids) != self.want_queries:
            return [f"{what}: {len(ids)} predictions for {len(self.want_queries)} query docs"]
        right = sum(lbl == self.want_types[d] for d, lbl in preds)
        if right < self.MIN_ACCURACY * len(ids):
            return [f"{what}: {right} of {len(ids)} pages classified as their true type"]
        return []

    def trace_extras(self, spark, tr: Tracer) -> list[tuple[str, list[str]]]:
        """The layers the pass does not reach: the LSH kNN route of the
        classifier, and the certified queries over the ``load_table``
        width idiom (form 1008) and the IVF/PQ trainers (trained IVF-PQ
        top-k), each checked against its registered DuckDB oracle."""
        from data_ingestion_task_spark import api

        mat = Materializer(True)
        # Untraced: the pass metrics already hold the ingest span.
        _, index, queries = self._split(spark, Tracer(tr.run_id, False), mat)
        with tr.span("api.classify_documents.lsh"):
            # An index cap below the index's chunk count routes to LSH.
            preds = api.classify_documents(queries, index, label_col="label", max_index_rows=64)
            rows = [(r["doc_id"], r["pred_label"]) for r in preds.collect()]
        api.release(preds)
        mat.release()
        out = [("classify (LSH route)", self.check_preds(rows, "classify (LSH route)"))]
        return out + certified_queries(
            spark, tr, self.tables, ("form1008_extraction_e2e", "ivfpq_trained_topk")
        )

    def check(self, res: dict) -> list[str]:
        errs = self.check_preds(res["preds"])
        preds = sorted(res["preds"])
        if self.first_preds is None:
            self.first_preds = preds
        elif preds != self.first_preds:
            errs.append("classify: predictions changed between passes on the same input")
        got = {d: (n, dec) for d, n, dec in res["confirm"]}
        want = {d: (n, "yes" if n >= 2 else "no") for d, n in self.want_matches.items()}
        if got != want:
            bad = sorted(d for d in want.keys() | got.keys() if got.get(d) != want.get(d))
            errs.append(f"confirm: {len(bad)} decisions differ, first doc {bad[0]}")
        rep = {f: (c, s, a) for f, c, s, a in res["report"]}
        if rep.keys() != self.want_report.keys():
            errs.append("evaluate: report fields differ from the rendered fields")
        for f, (c, s) in self.want_report.items():
            row = rep.get(f)
            if row and (row[:2] != (c, s) or abs(row[2] - round(c / s, 6)) > 1e-9):
                errs.append(f"evaluate: {f} reads {row}, expected ({c}, {s})")
        return errs


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

#: The audit oracle's corpus CTE (documents plus planted copies); the
#: benchmark's corpus already carries its own duplicates.
_CORPUS_CTE = re.compile(r"WITH corpus AS \(.*?\),\s*m AS \(", re.S)


def curation_knobs(oracle_sql: str) -> tuple[tuple[float, float], float]:
    """The perplexity band and DSIR floor the audit oracle pins, so the
    facade call and its DuckDB twin use the same thresholds."""
    band = re.search(r"avg_nll BETWEEN (-?[\d.]+) AND (-?[\d.]+)", oracle_sql)
    floor = re.search(r"dsir\.lw >= (-?[\d.]+)", oracle_sql)
    if not band or not floor:
        raise ValueError("curated_corpus_audit oracle no longer states its band and floor")
    return (float(band.group(1)), float(band.group(2))), float(floor.group(1))


def curation_twin_sql(oracle_sql: str, lang_cap: int, domain_cap: int) -> str:
    """DuckDB twin of ``api.curate_corpus`` with every stage on: the
    registered ``curated_corpus_audit`` oracle over the raw corpus,
    plus the salted per-key caps of the selection oracles."""
    body, n = _CORPUS_CTE.subn(
        "WITH corpus AS (SELECT doc_id, lang, text FROM documents), m AS (", oracle_sql, count=1
    )
    if n != 1:
        raise ValueError("curated_corpus_audit oracle no longer starts with its corpus CTE")

    def cap(col: str, salt: str, limit: int) -> str:
        h = f"('0x' || substr(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
        return (
            f"SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY {col} ORDER BY {h}, doc_id)"
            f" <= {limit} AS kept FROM documents"
        )

    return f"""
    SELECT a.*, l.kept AS lang_kept, s.kept AS source_kept,
           a.keep AND l.kept AND s.kept AS keep_all
    FROM ({body}) a
    JOIN ({cap('lang', 'lbs', lang_cap)}) l USING (doc_id)
    JOIN ({cap('source', 'dfc', domain_cap)}) s USING (doc_id)
    """


FLAG_COLS = (
    "n_words", "word_count_ok", "mean_word_len_ok", "symbol_ok", "stopwords_ok",
    "alpha_ok", "quality_keep", "exact_dup", "ppx_kept", "dsir_kept",
    "lang_kept", "source_kept",
)


class CorpusCuration:
    name = "corpus_curation"
    N_DOCS = 2000

    #: The traced extra steps: the inbox holds the corpus's first
    #: ``INBOX_DOCS`` documents in files of ``DOCS_PER_FILE``, 64 files
    #: per micro-batch (the file source's default), so the drain runs
    #: three batches; ``dedup_cluster_star`` runs over a ``QUERY_DOCS``
    #: corpus of the same seed (its DuckDB oracle is quadratic).
    INBOX_DOCS, DOCS_PER_FILE = 576, 3
    QUERY_DOCS = 300

    def generate(self, seed: int, work: str) -> None:
        self.work = work
        corpus = gen.corpus(seed, self.N_DOCS)
        self.corpus_dir = os.path.join(work, "corpus")
        self.path = gen.write_table(corpus, os.path.join(self.corpus_dir, "documents.parquet"))
        self.tables = os.path.join(work, "tables")
        gen.write_table(gen.corpus(seed, self.QUERY_DOCS), os.path.join(self.tables, "documents.parquet"))
        self.inbox = os.path.join(work, "stream", "inbox")
        for i in range(0, self.INBOX_DOCS, self.DOCS_PER_FILE):
            f = gen.write_table(
                corpus.slice(i, self.DOCS_PER_FILE).select(["doc_id", "text", "lang", "source"]),
                os.path.join(self.inbox, f"part-{i // self.DOCS_PER_FILE:05d}.parquet"),
            )
            # Pinned mtimes: the file source lists oldest first.
            os.utime(f, (1_700_000_000 + i,) * 2)
        self.n_docs = self.N_DOCS
        # The language cap binds on the largest language (41% of the
        # corpus); the domain cap is below the per-source count (5%), so
        # it binds on every source.
        self.lang_cap = int(self.N_DOCS * 0.3)
        self.domain_cap = int(self.N_DOCS * 0.045)

    def setup(self, spark) -> None:
        from data_ingestion_task_spark.plans import registry

        self.oracle_sql = registry.oracle_dict()["curated_corpus_audit"]
        self.band, self.floor = curation_knobs(self.oracle_sql)

    def expected(self, spark) -> None:
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.path}'")
        rows = con.execute(
            curation_twin_sql(self.oracle_sql, self.lang_cap, self.domain_cap)
        ).fetchdf()
        con.close()
        kept = rows[rows["keep_all"]]
        self.want = {
            int(r["doc_id"]): tuple(_py(r[c]) for c in FLAG_COLS) for _, r in kept.iterrows()
        }

    def run_pass(self, spark, tr: Tracer) -> dict:
        from pyspark.sql import functions as F

        from data_ingestion_task_spark import api

        from data_ingestion_task_spark.sources.tables import load_table

        docs = load_table(spark, self.corpus_dir, "documents")
        with tr.span("api.curate_corpus"):
            cur = api.curate_corpus(
                docs,
                lang_col="lang",
                lang_cap=self.lang_cap,
                source_col="source",
                domain_cap=self.domain_cap,
                ppx_band=self.band,
                dsir_floor=self.floor,
                dsir_target=F.col("lang") == "en",
            )
            kept = [
                (r["doc_id"], tuple(r[c] for c in FLAG_COLS))
                for r in cur.filter("keep").collect()
            ]
        api.release(cur)
        return {"kept": kept}

    def trace_components(self, spark, tr: Tracer) -> None:
        """Traced runs only: the facade's components over the same
        input, each written to the no-op sink at its boundary."""
        from pyspark.sql import functions as F

        from data_ingestion_task_spark import api
        from data_ingestion_task_spark.functions.corpus_scores import dsir_logweights, trigram_nll
        from data_ingestion_task_spark.functions.text import fingerprint_md5
        from data_ingestion_task_spark.plans.quality_plans import gopher_flags
        from data_ingestion_task_spark.plans.selection_plans import capped_by_key

        def sink(df):
            df.write.format("noop").mode("overwrite").save()

        docs = spark.read.parquet(self.path)
        with tr.span("quality_plans.gopher_flags"):
            sink(gopher_flags(docs, text_col="text", keep_cols=("doc_id",)))
        with tr.span("corpus_scores.trigram_nll"):
            scores = trigram_nll(docs, text_col="text", id_col="doc_id")
            sink(scores)
        api.release(scores)
        with tr.span("corpus_scores.dsir_logweights"):
            sink(dsir_logweights(docs, F.col("lang") == "en", text_col="text", id_col="doc_id"))
        with tr.span("selection_plans.capped_by_key"):
            sink(capped_by_key(docs.select("doc_id", "lang"), "lang", self.lang_cap, salt="lbs"))
            sink(capped_by_key(docs.select("doc_id", "source"), "source", self.domain_cap, salt="dfc"))
        with tr.span("text.fingerprint_md5"):
            sink(docs.select("doc_id", fingerprint_md5(F.col("text")).alias("_fp")))

    def trace_extras(self, spark, tr: Tracer) -> list[tuple[str, list[str]]]:
        """The layers the pass does not reach: the watched inbox drained
        through the curated-ingest gate and the chained near-dup gate,
        and the star-contraction dedup rounds as a certified query."""
        self.progress = self.stream_drain(spark, tr)
        return [("stream", self.check_stream(self.progress))] + certified_queries(
            spark, tr, self.tables, ("dedup_cluster_star",)
        )

    def stream_drain(self, spark, tr: Tracer) -> dict:
        """``start_curated_ingest`` with frozen score models trained
        once (outside the spans), ``availableNow`` over the whole
        inbox, then ``start_neardup_ingest(consolidate=False)`` on the
        admitted store and ``final_corpus``. Returns both queries'
        progress events and the collected outputs."""
        from pyspark.sql import functions as F

        from data_ingestion_task_spark.functions.corpus_scores import dsir_rate_model, trigram_rate_model
        from data_ingestion_task_spark.streaming.curate import (
            batch_curation_survivor_fingerprints,
            final_corpus,
            start_curated_ingest,
        )
        from data_ingestion_task_spark.streaming.dedup import start_neardup_ingest

        base = os.path.join(self.work, "stream", tr.run_id)
        admitted, verdicts = os.path.join(base, "admitted"), os.path.join(base, "verdicts")
        docs = spark.read.parquet(self.inbox)
        target = F.col("lang") == "en"
        ppx_model = trigram_rate_model(docs).persist()
        dsir_model = dsir_rate_model(docs, target).persist()
        ppx_model.count(), dsir_model.count()
        with tr.span("streaming.curate.start_curated_ingest"):
            q = start_curated_ingest(
                spark, self.inbox, os.path.join(base, "ckpt"), docs.schema, admitted,
                ppx_model=ppx_model, ppx_band=self.band,
                dsir_model=dsir_model, dsir_floor=self.floor,
            )
            q.awaitTermination()
        adm = spark.read.parquet(admitted)
        with tr.span("streaming.dedup.start_neardup_ingest"):
            q2 = start_neardup_ingest(
                spark, admitted, os.path.join(base, "ckpt2"), adm.schema, verdicts,
                consolidate=False,
            )
            q2.awaitTermination()
        with tr.span("streaming.curate.final_corpus"):
            final = [r["doc_id"] for r in final_corpus(spark, admitted, verdicts).select("doc_id").collect()]
        ppx_model.unpersist()
        dsir_model.unpersist()
        out = {
            "curated": [dict(p) for p in q.recentProgress],
            "neardup": [dict(p) for p in q2.recentProgress],
            "admitted": [(r["doc_id"], r["fingerprint"]) for r in adm.select("doc_id", "fingerprint").collect()],
            "verdicts": [
                (r["doc_id"], r["near_dup"])
                for r in spark.read.parquet(verdicts).select("doc_id", "near_dup").collect()
            ],
            "final": final,
        }
        out["want"] = {
            r["fingerprint"]
            for r in batch_curation_survivor_fingerprints(
                docs, ppx_band=self.band, dsir_floor=self.floor, dsir_target=target
            ).collect()
        }
        return out

    @staticmethod
    def check_stream(res: dict) -> list[str]:
        """Admitted fingerprints equal the batch facade's survivors on
        the same corpus and models, once each; every admitted document
        has exactly one near-dup verdict; the final corpus is the
        admitted store minus the flagged documents."""
        errs = []
        fps = [fp for _, fp in res["admitted"]]
        if len(fps) != len(set(fps)) or set(fps) != res["want"]:
            errs.append(
                f"stream: {len(fps)} admitted ({len(set(fps))} distinct), "
                f"batch facade keeps {len(res['want'])}"
            )
        ids = sorted(d for d, _ in res["admitted"])
        if sorted(d for d, _ in res["verdicts"]) != ids:
            errs.append("stream: near-dup verdicts are not one per admitted document")
        flagged = {d for d, nd in res["verdicts"] if nd}
        if sorted(res["final"]) != sorted(set(ids) - flagged):
            errs.append("stream: final corpus is not the admitted store minus the flagged docs")
        return errs

    def check(self, res: dict) -> list[str]:
        got = {d: tuple(_py(v) for v in flags) for d, flags in res["kept"]}
        if got == self.want:
            return []
        extra = sorted(got.keys() - self.want.keys())
        missing = sorted(self.want.keys() - got.keys())
        differ = sorted(d for d in got.keys() & self.want.keys() if got[d] != self.want[d])
        return [
            f"curate: {len(extra)} kept that the twin drops, {len(missing)} dropped that "
            f"the twin keeps, {len(differ)} with different flags"
        ]


def _py(v):
    """numpy/pandas scalars to plain Python for comparison."""
    return v.item() if hasattr(v, "item") else v


WORKLOADS = {w.name: w for w in (DocPipeline, CorpusCuration)}
