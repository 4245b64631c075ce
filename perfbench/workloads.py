"""The benchmark's workloads, each driven through the package's public
entry points.

A workload knows how to make its inputs, load them, run the pipeline
once with every output column forced (``run_once``), check what came
back (``check``), and run a traced pass that calls each layer itself in
pipeline order (``trace``).  Timing lives in run.py; here are only the
calls and the checks.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import inputs
from .sparkstats import JobCount


def force_exprs(df: DataFrame, key: str) -> list:
    """One expression per output column: ``key`` as is, then a 64-bit
    digest of every column (the key included).  Collecting these rows
    makes Spark compute every column of ``df``; an aggregate such as
    count() lets Catalyst prune the expensive ones (the quality and
    language columns of the documents stage)."""
    return [F.col(key).alias("_key")] + [
        F.xxhash64(F.col(c)).alias("h_" + c) for c in df.columns]


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=repr)
                          .encode()).hexdigest()


def tree_digest() -> str:
    """Digest of the code under test: the package and this benchmark.
    Expected outputs are kept per tree, so a commit that changes what the
    program outputs starts a new record instead of failing the check."""
    import deepseek_ocr_omnidocbench_spark as pkg

    bench = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(bench)
    h = hashlib.sha256()
    for top in (os.path.dirname(os.path.abspath(pkg.__file__)), bench):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__pycache__")))
            for fn in sorted(files):
                if fn.endswith(".pyc"):
                    continue
                path = os.path.join(d, fn)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _materialize(df: DataFrame) -> DataFrame:
    """End a traced stage: compute every column once, keep the result."""
    return df.localCheckpoint(eager=True)


def _cpu(fn, *args):
    t0 = time.process_time()
    out = fn(*args)
    return out, time.process_time() - t0


class Workload:
    name = ""
    size = 0

    def __init__(self, data_dir: str, seed: int, cores: int):
        self.data_dir = data_dir
        self.seed = seed
        self.cores = cores
        self.digests: list[str] = []

    def prepare(self, spark) -> None:
        """Make (or find cached) inputs for this seed."""

    def load(self, spark) -> None:
        """Bind the inputs to a session (lazily: no Spark job)."""

    def expect(self, spark) -> None:
        """Compute what the checks compare against (after set-up)."""

    def run_once(self, spark):
        raise NotImplementedError

    def check(self, out) -> tuple[int, list[str]]:
        """-> (failed rows, problems).  Also records the output digest."""
        raise NotImplementedError

    def trace(self, spark, tracer) -> tuple[dict, list[str], int, list[str]]:
        """Traced pass -> (per-layer metrics, root span names, failed rows,
        problems)."""
        raise NotImplementedError

    # -- cross-run determinism ------------------------------------------

    def _expected_path(self) -> str:
        d = os.path.join(self.data_dir, "expected", tree_digest())
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, "%s-s%d-n%d.json" % (self.name, self.seed, self.size))

    def check_repeatable(self) -> list[str]:
        """Every run in this process (timed, traced and warm), and every
        earlier run of the same code with the same seed and size, must have
        produced the same output digest."""
        problems = []
        if len(set(self.digests)) > 1:
            problems.append("%s output differs between runs in one process" % self.name)
        if not self.digests:
            return problems
        path = self._expected_path()
        if os.path.exists(path):
            with open(path) as f:
                if json.load(f)["digest"] != self.digests[0]:
                    problems.append("%s output differs from an earlier run of "
                                    "the same code with the same seed" % self.name)
        else:
            tmp = path + ".tmp-%d" % os.getpid()
            with open(tmp, "w") as f:
                json.dump({"digest": self.digests[0]}, f)
            os.rename(tmp, path)
        return problems


# ---- extract ---------------------------------------------------------------

class Extract(Workload):
    """pages -> markdown documents via plans.extract_pipeline.run_pipeline_inline."""

    name = "extract"
    size = 200

    def prepare(self, spark):
        self.path = inputs.extract_pages(self.data_dir, self.seed, self.size)
        # per-url digest of `text` (Spark's xxhash64, as the checks use),
        # computed once per input
        self.expected_path = os.path.join(os.path.dirname(self.path), "text-digests.json")
        if not os.path.exists(self.expected_path):
            rows = spark.read.parquet(self.path).select(
                "url", F.xxhash64("text").alias("h"), "category").collect()
            tmp = self.expected_path + ".tmp-%d" % os.getpid()
            with open(tmp, "w") as f:
                json.dump({r["url"]: [r["h"], r["category"]] for r in rows}, f)
            os.rename(tmp, self.expected_path)

    def load(self, spark):
        self.pages = spark.read.parquet(self.path)

    def expect(self, spark):
        with open(self.expected_path) as f:
            self.expected = json.load(f)

    def collect_forced(self, docs: DataFrame) -> list:
        # the page texts, re-joined with the page generator's blank-line
        # separator, must equal `text` for PDF rows as well as HTML rows
        pages_md = F.concat_ws("\n\n", F.transform(
            "page_spans",
            lambda s: F.substring("markdown", s["start"] + 1, s["end"] - s["start"])))
        return docs.select(*force_exprs(docs, "url"),
                           F.xxhash64(pages_md).alias("_pages_md"),
                           F.col("markdown").isNull().alias("_null")).collect()

    def run_once(self, spark):
        from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import (
            run_pipeline_inline)

        return self.collect_forced(run_pipeline_inline(self.pages, salt_buckets=self.cores))

    def check(self, rows):
        problems, failed = [], 0
        seen = set()
        for r in rows:
            url = r["_key"]
            seen.add(url)
            exp = self.expected.get(url)
            if exp is None:
                problems.append("unexpected url %s" % url)
                failed += 1
            elif r["_null"] or r["_pages_md"] != exp[0]:
                failed += 1
        # empty pages may be dropped by the quality cut; nothing else may
        missing = [u for u, (h, cat) in self.expected.items()
                   if u not in seen and cat != "empty"]
        failed += len(missing)
        if failed:
            problems.append("extract: %d rows missing or not byte-identical "
                            "to text" % failed)
        self.digests.append(_digest(sorted(tuple(r) for r in rows)))
        return failed, problems

    # -- traced pass -------------------------------------------------------

    def trace(self, spark, tracer):
        from deepseek_ocr_omnidocbench_spark.operators.assemble import assemble_documents
        from deepseek_ocr_omnidocbench_spark.operators.textstats import (
            lang_id_col, quality_cols)
        from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import (
            stage_documents, stage_filter, stage_page_md)

        m = {}
        with tracer.span("extract_pipeline"):
            with tracer.span("extract_pipeline.filter"):
                filtered = _materialize(stage_filter(self.pages))
            with tracer.span("extract_pipeline.page_md"):
                page_md = _materialize(stage_page_md(filtered, salt_buckets=self.cores))
            with tracer.span("extract_pipeline.documents"):
                docs = stage_documents(page_md)
                rows = self.collect_forced(docs)
        failed, problems = self.check(rows)
        # documents = assemble + quality/language columns; time each alone
        with tracer.span("assemble"):
            assembled = _materialize(assemble_documents(page_md))
        with tracer.span("textstats.quality_lang"):
            q = quality_cols(F.col("markdown"))
            assembled.select(F.max(F.xxhash64(lang_id_col(F.col("markdown")),
                                              q["quality_score"]))).collect()
        m["extract_pipeline.filter_s"] = tracer.seconds("extract_pipeline.filter")
        m["extract_pipeline.page_md_s"] = tracer.seconds("extract_pipeline.page_md")
        m["extract_pipeline.documents_s"] = tracer.seconds("extract_pipeline.documents")
        m["assemble.assemble_s"] = tracer.seconds("assemble")
        m["textstats.quality_lang_s"] = tracer.seconds("textstats.quality_lang")

        m.update(self._kernel_cpu())
        kernel = m.pop("html_extract.total_cpu_s") + m["pdf_extract.cpu_s"]
        m["extract_pipeline.outside_kernel_share"] = 1.0 - kernel / (
            m["extract_pipeline.page_md_s"] * self.cores)
        lineage, lineage_problems = self._lineage(spark, tracer, rows)
        m.update(lineage)
        problems += lineage_problems

        # the curation layers, over extracted documents (see Curate)
        cur = Curate(self.data_dir, self.seed, self.cores)
        cur.prepare(spark)
        cur.load(spark)
        cur.expect(spark)
        curate_layers, _, _, curate_problems = cur.trace(spark, tracer)
        m.update(curate_layers)
        problems += curate_problems + cur.check_repeatable()
        return m, ["extract_pipeline"], failed, problems

    def _kernel_cpu(self) -> dict:
        """The extraction kernels in this process, one thread, same rows."""
        import pyarrow.parquet as pq

        from deepseek_ocr_omnidocbench_spark.operators import html_extract as hx
        from deepseek_ocr_omnidocbench_spark.operators.pdf_extract import extract_pdf_pages

        tbl = pq.read_table(self.path, columns=["html"]).column("html").to_pylist()
        parse = prune = order = total = giant = pdf = 0.0
        for blob in tbl:
            if blob is None:
                continue
            if blob.startswith(b"%PDF"):
                pdf += _cpu(extract_pdf_pages, blob)[1]
                continue
            html = blob.decode("utf-8", errors="replace")
            root, t = _cpu(hx.parse_html, html)
            parse += t
            prune += _cpu(hx.prune, root)[1]
            order += _cpu(hx.order_children, root)[1]
            t = _cpu(hx.extract_markdown, html)[1]
            total += t
            if len(blob) >= hx.BIG_BLOB_BYTES:
                giant += t
        return {"html_extract.parse_cpu_s": parse,
                "html_extract.prune_cpu_s": prune,
                "html_extract.order_cpu_s": order,
                # markdown emit: the whole kernel less its first three steps
                "html_extract.emit_cpu_s": max(total - parse - prune - order, 0.0),
                "html_extract.total_cpu_s": total,
                "html_extract.giant_cpu_share": giant / total if total else 0.0,
                "pdf_extract.cpu_s": pdf}

    def _lineage(self, spark, tracer, inline_rows) -> tuple[dict, list[str]]:
        """Checkpointed run (sources.lineage.StageCheckpoint) into a fresh
        root, then a resume pass over the committed root."""
        from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import run_pipeline

        n_buckets = 2
        root = os.path.join(os.path.dirname(self.data_dir), ".run", "checkpoint")
        shutil.rmtree(root, ignore_errors=True)
        with tracer.span("lineage.fresh"):
            docs = run_pipeline(spark, self.pages, root, n_buckets=n_buckets,
                                salt_buckets=self.cores)
            ck_rows = self.collect_forced(docs)
        lin_dir = os.path.join(root, "lineage")
        n_lineage = len(os.listdir(lin_dir))
        with tracer.span("lineage.resume"):
            docs = run_pipeline(spark, self.pages, root, n_buckets=n_buckets,
                                salt_buckets=self.cores)
            resume_rows = self.collect_forced(docs)
        recomputed = len(os.listdir(lin_dir)) - n_lineage
        lin = []
        for fn in sorted(os.listdir(lin_dir)):
            with open(os.path.join(lin_dir, fn)) as f:
                lin.extend(json.loads(line) for line in f)
        secs = [r["elapsed_sec"] for r in lin]
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(root) if "lineage" not in d
                      for f in fs if f.endswith(".parquet"))

        def key(rows):
            return sorted((r["_key"], r["h_doc_id"], r["_pages_md"]) for r in rows)

        problems = []
        if key(ck_rows) != key(inline_rows) or key(resume_rows) != key(inline_rows):
            problems.append("checkpointed output differs from the inline output")
        if recomputed:
            problems.append("resume recomputed %d buckets" % recomputed)
        shutil.rmtree(root, ignore_errors=True)
        return {"lineage.fresh_s": tracer.seconds("lineage.fresh"),
                "lineage.resume_s": tracer.seconds("lineage.resume"),
                "lineage.bucket_s_p50": statistics.median(secs),
                "lineage.bucket_s_max": max(secs),
                "lineage.jobs_per_bucket": JobCount(("lineage.fresh",), len(lin)),
                "lineage.bytes_written": written,
                "lineage.resume_recomputed_buckets": recomputed}, problems


# ---- eval ------------------------------------------------------------------

class Eval(Workload):
    """GT + predictions -> OmniDocBench report via plans.evaluate.evaluate."""

    name = "eval"
    size = 50

    def prepare(self, spark):
        self.paths = inputs.eval_fixtures(self.data_dir, self.seed, self.size)

    def load(self, spark):
        self.gt = spark.read.parquet(self.paths["gt"])
        self.attrs = spark.read.parquet(self.paths["attrs"])
        self.preds = spark.read.parquet(self.paths["preds"])

    def run_once(self, spark):
        from deepseek_ocr_omnidocbench_spark.plans.evaluate import evaluate

        return evaluate(self.gt, self.preds, self.attrs)


    def check(self, report):
        problems = []
        counted = max((r["page_count"] for r in report["page_split"]
                       if r["attribute"] == "ALL"), default=0)
        failed = self.size - counted
        if failed:
            problems.append("eval: report covers %d of %d pages" % (counted, self.size))
        if report["overall"] is None:
            problems.append("eval: no overall score")
        self.digests.append(_digest(report))
        return failed, problems

    def trace(self, spark, tracer):
        from deepseek_ocr_omnidocbench_spark.operators.eval_harness import match_elements
        from deepseek_ocr_omnidocbench_spark.operators.metrics_report import (
            arbitrate_tables, attribute_report, edit_dist_report,
            page_split_report, score_samples, teds_report, text_metric_report)
        from deepseek_ocr_omnidocbench_spark.plans.evaluate import evaluate

        m = {}
        with tracer.span("evaluate"):
            with tracer.span("evaluate.load"):
                gt = _materialize(self.gt)
                preds = _materialize(self.preds)
                attrs = _materialize(self.attrs)
            with tracer.span("eval_harness.match"):
                matches = _materialize(match_elements(gt, preds))
            with tracer.span("metrics_report.arbitrate"):
                unified = _materialize(arbitrate_tables(matches))
            with tracer.span("metrics_report.score"):
                scored = _materialize(score_samples(unified, teds_partitions=8))
            with tracer.span("metrics_report.reports"):
                for rep in (edit_dist_report(scored), teds_report(scored),
                            attribute_report(scored),
                            page_split_report(scored, attrs),
                            text_metric_report(scored)):
                    rep.collect()
        m["evaluate.load_s"] = tracer.seconds("evaluate.load")
        m["eval_harness.match_s"] = tracer.seconds("eval_harness.match")
        m["eval_harness.match_rows"] = matches.count()
        m["metrics_report.arbitrate_s"] = tracer.seconds("metrics_report.arbitrate")
        m["metrics_report.score_s"] = tracer.seconds("metrics_report.score")
        m["metrics_report.reports_s"] = tracer.seconds("metrics_report.reports")

        # fixed cost: a warm evaluate over 4 pages
        ids = [r["img_id"] for r in preds.select("img_id").orderBy("img_id").limit(4).collect()]
        few = lambda df: df.where(F.col("img_id").isin(ids))  # noqa: E731
        with tracer.span("evaluate.fixed"):
            evaluate(few(gt), few(preds), few(attrs))
        m["evaluate.fixed_s"] = tracer.seconds("evaluate.fixed")

        # TEDS kernel in this process on the same table pairs
        from deepseek_ocr_omnidocbench_spark.operators.teds import teds_score

        def eff(norm, raw):
            c = F.col(norm)
            return F.when(c.isNotNull() & (F.length(c) > 0), c).otherwise(
                F.coalesce(F.col(raw), F.lit("")))
        pairs = unified.where(F.col("element_class") == "table").select(
            eff("norm_pred", "pred").alias("p"), eff("norm_gt", "gt").alias("g")).collect()
        t0 = time.process_time()
        for r in pairs:
            teds_score(r["p"], r["g"])
            teds_score(r["p"], r["g"], structure_only=True)
        m["teds.cpu_s"] = time.process_time() - t0
        m["teds.pairs"] = len(pairs)
        return m, ["evaluate"], 0, []


# ---- curate ----------------------------------------------------------------

class Curate(Workload):
    """extracted documents -> packed survivors: the stages of
    plans.curate.run_curation_inline, called one by one.

    Not a timed workload (the run budget holds two); ``Extract.trace``
    traces these layers after the extraction layers."""

    name = "curate"
    size = 300

    def prepare(self, spark):
        self.path = inputs.curate_docs(spark, self.data_dir, self.seed, self.size)

    def load(self, spark):
        self.docs = spark.read.parquet(self.path)

    def expect(self, spark):
        self.n_docs = self.docs.count()

    def check(self, rows):
        problems = []
        ids = [r["_key"] for r in rows]
        if not ids:
            problems.append("curate: no survivors")
        if len(set(ids)) != len(ids):
            problems.append("curate: a survivor appears twice")
        self.digests.append(_digest(sorted(tuple(r) for r in rows)))
        return 0, problems

    def trace(self, spark, tracer):
        from deepseek_ocr_omnidocbench_spark.operators.dedup import (
            dedup_clusters, lsh_candidate_pairs)
        from deepseek_ocr_omnidocbench_spark.plans.curate import (
            stage_gated, stage_packed, stage_url_unique)

        m = {}
        threshold = 0.5
        with tracer.span("curate"):
            with tracer.span("curation.gates"):
                gated = _materialize(stage_gated(self.docs))
            with tracer.span("curate.url_unique"):
                uniq = _materialize(stage_url_unique(gated))
            with tracer.span("dedup.lsh"):
                cand = _materialize(lsh_candidate_pairs(uniq, text_col="markdown"))
            with tracer.span("dedup.cc"):
                clusters = _materialize(dedup_clusters(
                    uniq, cand.where(F.col("jaccard") >= threshold)))
            with tracer.span("curate.pack"):
                surv = uniq.join(clusters.where(F.col("is_survivor") == 1)
                                 .select("doc_id", "cluster_id"), "doc_id")
                out = stage_packed(surv)
                rows = out.select(*force_exprs(out, "doc_id")).collect()
        _, problems = self.check(rows)
        n_gated = gated.count()
        n_cand = cand.count()
        m["curation.gates_s"] = tracer.seconds("curation.gates")
        m["curation.keep_frac"] = n_gated / self.n_docs
        m["curate.url_unique_s"] = tracer.seconds("curate.url_unique")
        m["curate.pack_s"] = tracer.seconds("curate.pack")
        m["dedup.lsh_s"] = tracer.seconds("dedup.lsh")
        m["dedup.candidate_pairs"] = n_cand
        m["dedup.verified_frac"] = (
            cand.where(F.col("jaccard") >= threshold).count() / n_cand if n_cand else 0.0)
        m["dedup.cc_s"] = tracer.seconds("dedup.cc")
        m["dedup.cc_jobs"] = JobCount(("dedup.cc",))
        return m, ["curate"], 0, problems


WORKLOADS = {w.name: w for w in (Extract, Eval)}
