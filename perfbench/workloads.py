"""The benchmark's workloads.

Each workload makes its inputs from the seed (``generate``), runs one
untimed warm-up pass of the same calls a timed pass makes (``warm_up``),
checks the workload's output against ground truth (``verify``), runs
passes of timed calls (``run_pass``) and, in a traced run, records spans
around its calls into each layer (``trace_pass``, ``trace_extra``).

A *call* is what ``call_p50_s`` is the median of; a *pass* is the unit the
timed loop repeats.  For ``wide_pages`` a pass is one call;
``crawl_resume`` makes ``CRAWL_CALLS`` calls per pass.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

import gen
from harness import SLOTS, median, noop

MODEL_PATH = os.path.join("learnhtml_spark", "artifacts", "model.npz")

#: documents in the kernel baseline sample
KERNEL_SAMPLE = 2000
#: wide pages compared with the single-process extractor in every run
WIDE_CHECKS = 2
#: sibling counts of the wide pages timed single-process in a traced run
WIDE_TIMED = (1000, 4000)
#: traced passes of the dedup layer
DEDUP_PASSES = 2
ARCHIVES_PER_CALL = 16
CRAWL_CALLS = gen.ARCHIVES // ARCHIVES_PER_CALL
RUN_ID = "perfbench"


@dataclass
class Check:
    """Outcome of the untimed verification pass."""

    attempted: int = 0
    ok_docs: int = 0
    f1_sum: float = 0.0
    problems: list[str] = field(default_factory=list)

    def doc(self, ok: bool, f1: float) -> None:
        self.attempted += 1
        self.ok_docs += ok
        self.f1_sum += f1


def rows_by_doc(out) -> dict[str, list[tuple]]:
    """doc_id -> its (kind, text, media_ref) output rows in offset order."""
    got: dict[str, list] = {}
    for doc_id, kind, text, ref, _ in sorted(
        zip(out["doc_id"], out["kind"], out["text"], out["media_ref"], out["offset"]),
        key=lambda r: (r[0], r[4]),
    ):
        got.setdefault(doc_id, []).append((kind, text, ref))
    return got


def f1(got: list, want: list) -> float:
    """F1 of two multisets of items."""
    if not got and not want:
        return 1.0
    rest = list(want)
    hit = 0
    for g in got:
        if g in rest:
            rest.remove(g)
            hit += 1
    if not hit:
        return 0.0
    p, r = hit / len(got), hit / len(want)
    return 2 * p * r / (p + r)


class Workload:
    name = ""
    base_docs = 500

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.input = os.path.join(work, "input")
        self.docs_per_pass = 0

    def generate(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, model: bytes, timer) -> None:
        raise NotImplementedError

    def warm_up(self, spark, model: bytes):
        """One untimed pass of the timed calls over the whole input; the
        last step of set-up.  Returns what ``verify`` needs of it."""
        raise NotImplementedError

    def verify(self, spark, model: bytes, warm) -> Check:
        """Check the workload's output against ground truth."""
        raise NotImplementedError

    def trace_pass(self, spark, model: bytes, tracer, jobs, layers) -> list[float]:
        """One pass with spans around each layer call; returns the walls of
        the workload's own calls, for the tracing overhead."""
        raise NotImplementedError

    def trace_extra(self, spark, model: bytes, tracer, jobs, layers,
                    check: Check) -> None:
        """Layer measurements outside the workload's passes, run once per
        traced run."""


# ---------------------------------------------------------------------------
# wide_pages
# ---------------------------------------------------------------------------


def _identity(batches):
    yield from batches


class WidePages(Workload):
    name = "wide_pages"

    def generate(self) -> None:
        from learnhtml_spark.corpus import expected_extraction, synthesize_page

        docs = gen.documents(self.seed, self.base_docs)
        self.wide_counts = gen.wide_ids(self.seed, docs)
        self.spans = gen.spans_frame(docs, self.wide_counts)
        gen.write_spans_table(self.spans, self.input)
        is_wide = self.spans["doc_id"].isin(self.wide_counts)
        self.normal = os.path.join(self.work, "normal")
        self.n_normal = int((~is_wide).sum())
        # one equal file per task slot: a single wave of tasks, so the
        # extraction wall times the slots is the slots' busy time
        gen.write_spans_table(self.spans[~is_wide], self.normal, files=SLOTS)
        gen.write_documents(docs, os.path.join(self.work, "documents"))
        self.dedup = Dedup(os.path.join(self.work, "documents"), docs)
        self.docs_per_pass = len(docs)
        normal = docs[~docs["doc_id"].astype(str).isin(self.wide_counts)]
        self.expected: dict[str, list] = {str(d): [] for d in docs["doc_id"]}
        for doc_id, kind, text, ref, _off in expected_extraction(normal):
            self.expected[doc_id].append((kind, text, ref))
        # wide pages: the listing is boilerplate, the content is unchanged
        for doc_id, text, lang, source in zip(
            docs["doc_id"], docs["text"], docs["lang"], docs["source"]
        ):
            if str(doc_id) in self.wide_counts:
                _, want = synthesize_page(str(doc_id), text, source, lang)
                self.expected[str(doc_id)] = [("text", t, None) for t in want]

    def _extract(self, spark, model, path=None):
        from learnhtml_spark.operators.extract import extract_content_spans

        return extract_content_spans(spark.read.parquet(path or self.input), model)

    def run_pass(self, spark, model, timer) -> None:
        timer(noop, self._extract(spark, model))

    def warm_up(self, spark, model) -> None:
        noop(self._extract(spark, model))

    def verify(self, spark, model, warm) -> Check:
        got = self.got = rows_by_doc(self._extract(spark, model).toPandas())
        check = Check()
        unknown = set(got) - set(self.expected)
        if unknown:
            check.problems.append(f"{len(unknown)} output doc_ids never attempted")
        for doc_id, want in self.expected.items():
            rows = got.get(doc_id, [])
            texts = [t for k, t, _ in rows if k == "text"]
            want_texts = [t for k, t, _ in want if k == "text"]
            errored = any(k == "error" for k, _, _ in rows)
            if doc_id in self.wide_counts:
                ok = texts == want_texts
            else:
                ok = rows == want
            check.doc(ok and bool(rows) and not errored, f1(texts, want_texts))
        self._check_wide(model, got, check)
        return check

    def _check_wide(self, model, got, check: Check) -> None:
        """Spark output of a seeded sample of wide pages must equal the
        single-process ``HTMLExtractor``'s."""
        from learnhtml_spark.exact_model import load_any_model
        from learnhtml_spark.extractor import HTMLExtractor
        from learnhtml_spark.spans import html_from_spans

        extractor = HTMLExtractor(load_any_model(model))
        spans_of = dict(zip(self.spans["doc_id"], self.spans["spans"]))
        sample = random.Random(self.seed ^ 0xC0DE).sample(
            sorted(self.wide_counts), WIDE_CHECKS
        )
        for doc_id in sample:
            html, _ = html_from_spans(spans_of[doc_id])
            want = extractor.extract_text_blocks(html)
            texts = [t for k, t, _ in got.get(doc_id, []) if k == "text"]
            if texts != want:
                check.problems.append(
                    f"wide page {doc_id}: spark output differs from HTMLExtractor"
                )

    def trace_pass(self, spark, model, tracer, jobs, layers) -> list[float]:
        """The scan, boundary and kernel layers are measured on the corpus
        without its wide pages, where the single-process kernel baseline
        applies; then the workload's own call."""
        from learnhtml_spark.schemas import DOCS

        with tracer.span("sources.scan") as scan:
            noop(spark.read.parquet(self.normal))
        with tracer.span("operators.extract.identity") as ident:
            noop(spark.read.parquet(self.normal).mapInPandas(_identity, schema=DOCS))
        with tracer.span("operators.extract.normal_pages") as normal:
            noop(self._extract(spark, model, self.normal))
        with tracer.span("operators.extract.extract_content_spans") as call:
            _, n_jobs = jobs(noop, self._extract(spark, model))
        layers["sources.scan_s"].append(scan.seconds)
        layers["operators.extract.boundary_s"].append(ident.seconds - scan.seconds)
        layers["operators.extract.core_ms_per_doc"].append(
            normal.seconds * SLOTS / self.n_normal * 1000
        )
        layers["operators.extract.jobs_per_call"].append(n_jobs)
        return [call.seconds]

    def trace_extra(self, spark, model, tracer, jobs, layers, check) -> None:
        import kernel
        from learnhtml_spark.exact_model import load_any_model

        # the dedup layer runs on this corpus's documents table: an untimed,
        # checked first pass (its first call costs several times a later
        # one), then traced passes
        self.dedup.verify(spark, check)
        for _ in range(DEDUP_PASSES):
            with tracer.span("functions.dedup.pass"):
                self.dedup.trace_pass(spark, tracer, jobs, layers)

        clf = load_any_model(model)
        normal = [
            (d, s) for d, s in zip(self.spans["doc_id"], self.spans["spans"])
            if d not in self.wide_counts
        ]
        rng = random.Random(self.seed ^ 0x4B)
        sample = rng.sample(normal, min(KERNEL_SAMPLE, len(normal)))
        with tracer.span("kernel.baseline"):
            secs, out = kernel.time_kernel(sample, clf)
        # the baseline copies the per-batch body of extract_content_spans:
        # once that body changes, the copy must be changed with it
        drift = sum(out[d] != self.got.get(d, []) for d, _ in sample)
        if drift:
            check.problems.append(
                f"kernel baseline output differs from extract_content_spans "
                f"on {drift} documents"
            )
        for phase, name in kernel.PHASES.items():
            layers[name].append(secs[phase] / len(sample) * 1000)
        kernel_ms = sum(secs.values()) / len(sample) * 1000
        layers["kernel.ms_per_doc"].append(kernel_ms)
        core_ms = median(layers["operators.extract.core_ms_per_doc"])
        layers["operators.extract.outside_kernel_share"].append(
            1 - kernel_ms / core_ms
        )
        spans_of = dict(zip(self.spans["doc_id"], self.spans["spans"]))
        timed = [
            spans_of[d] for d, k in sorted(self.wide_counts.items()) if k in WIDE_TIMED
        ]
        with tracer.span("kernel.wide_baseline"):
            wide = kernel.time_wide(timed)
        for phase in ("getpath", "features"):
            layers[f"{kernel.PHASES[phase]}.wide"].append(
                wide[phase] / len(timed) * 1000
            )


# ---------------------------------------------------------------------------
# crawl_resume
# ---------------------------------------------------------------------------


class CrawlResume(Workload):
    name = "crawl_resume"
    base_docs = 250

    def generate(self) -> None:
        from learnhtml_spark.corpus import expected_extraction

        docs = gen.documents(self.seed, self.base_docs)
        self.plan = gen.crawl_plan(self.seed, docs)
        self.archives = gen.write_archives(docs, self.plan, self.input)
        self.docs_per_pass = len(docs)
        served = docs[[self.plan[str(d)] == "ok" for d in docs["doc_id"]]]
        self.expected: dict[str, list] = {d: [] for d in self.plan}
        for doc_id, kind, text, _ref, _off in expected_extraction(served):
            if kind == "text":
                self.expected[doc_id].append(text)
        self.n_pass = 0

    def _fresh_base(self) -> str:
        self.n_pass += 1
        return os.path.join(self.work, "out", f"pass-{self.n_pass}")

    def _call(self, spark, model, base, limit=ARCHIVES_PER_CALL):
        from learnhtml_spark.sources.warc_run import write_warc_run

        return write_warc_run(
            spark, self.input, base, RUN_ID,
            max_archives_per_call=limit, model_bytes=model,
        )

    def run_pass(self, spark, model, timer) -> None:
        base = self._fresh_base()
        for _ in range(CRAWL_CALLS):
            timer(self._call, spark, model, base)
        shutil.rmtree(base)

    def _landed(self, base):
        import pandas as pd

        spans = pd.read_parquet(os.path.join(base, "spans"))
        lineage = pd.read_parquet(os.path.join(base, "lineage"))
        return spans, lineage

    def warm_up(self, spark, model) -> tuple[str, list[str]]:
        """A pass whose output is kept for ``verify``: (base, processed)."""
        base = self._fresh_base()
        processed = []
        for _ in range(CRAWL_CALLS):
            processed += self._call(spark, model, base)["processed"]
        return base, processed

    def verify(self, spark, model, warm) -> Check:
        from gen import page_url

        base, processed = warm
        spans, lineage = self._landed(base)
        shutil.rmtree(base)
        check = Check()
        if sorted(processed) != sorted(self.archives):
            check.problems.append("a pass did not process every archive once")
        if sorted(lineage["archive"]) != sorted(self.archives) or set(
            lineage["status"]
        ) != {"ok"}:
            check.problems.append("lineage is not one ok row per archive")
        got = rows_by_doc(spans)
        urls = {page_url(d): d for d in self.plan}
        if set(got) - set(urls):
            check.problems.append("output holds pages that were never served")
        for url, doc_id in urls.items():
            rows = got.get(url, [])
            texts = [t for k, t, _ in rows if k == "text"]
            want = self.expected[doc_id]
            media = [r for k, _, r in rows if k == "media"]
            want_media = (
                [f"{url}/img.png"]
                if self.plan[doc_id] == "ok" and int(doc_id) % 2 == 0 else []
            )
            # 404s and damaged records have no expected output: they count
            # as failed documents whether or not the engine reports them
            ok = (
                self.plan[doc_id] == "ok" and texts == want and media == want_media
                and not any(k == "error" for k, _, _ in rows)
            )
            check.doc(ok, f1(texts, want) if self.plan[doc_id] == "ok" else 0.0)
        return check

    def trace_pass(self, spark, model, tracer, jobs, layers) -> list[float]:
        from learnhtml_spark.sources.warc_run import (
            completed_archives,
            list_archives,
            warc_classifier_spans_fused,
        )

        base = self._fresh_base()
        walls, pass_jobs = [], 0
        for _ in range(CRAWL_CALLS):
            with tracer.span("sources.warc_run.list_archives") as man:
                manifest = list_archives(spark, self.input)
            with tracer.span("sources.warc_run.completed_archives") as lin:
                done = completed_archives(spark, base, RUN_ID)
            pending = sorted(set(manifest) - done)[:ARCHIVES_PER_CALL]
            raw = (
                spark.read.format("binaryFile")
                .load([manifest[b] for b in pending])
                .select("path", "content")
            )
            with tracer.span("sources.warc_run.warc_classifier_spans_fused") as ext:
                noop(warc_classifier_spans_fused(raw, model))
            with tracer.span("sources.warc_run.write_warc_run") as call:
                _, n_jobs = jobs(self._call, spark, model, base)
            pass_jobs += n_jobs
            walls.append(call.seconds)
            layers["sources.warc_run.manifest_s"].append(man.seconds)
            layers["sources.warc_run.lineage_read_s"].append(lin.seconds)
            layers["sources.warc_run.extract_s"].append(ext.seconds)
            layers["sources.warc_run.write_lineage_s"].append(
                call.seconds - man.seconds - lin.seconds - ext.seconds
            )
        out_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(os.path.join(base, "spans"))
            for f in files
            if f.endswith(".parquet")
        )
        spans, _ = self._landed(base)
        shutil.rmtree(base)
        # the first call of a pass finds no lineage yet and starts one job
        # fewer, so the count is averaged over a whole pass
        layers["sources.warc_run.jobs_per_call"].append(pass_jobs / CRAWL_CALLS)
        layers["sources.warc_run.out_bytes_per_doc"].append(
            out_bytes / self.docs_per_pass
        )
        layers["sources.warc_run.error_rows"].append(
            int((spans["kind"] == "error").sum())
        )
        return walls

    def trace_extra(self, spark, model, tracer, jobs, layers, check) -> None:
        import kernel

        data = {}
        for name in self.archives:
            with open(os.path.join(self.input, name), "rb") as f:
                data[name] = f.read()
        with tracer.span("sources.warc_source.decode"):
            secs, docs = kernel.time_decode(data)
        layers["sources.warc_source.decode_ms_per_doc"].append(secs / docs * 1000)


# ---------------------------------------------------------------------------
# functions.dedup, traced on the wide_pages corpus
# ---------------------------------------------------------------------------


class Dedup:
    """The three dedup functions over a documents table whose texts each
    have ``gen.REPLICAS`` exact twins: ``neardup_pairs``, ``dup_clusters``
    and ``incremental_dedup`` of the odd ids against the even ids."""

    def __init__(self, path: str, docs):
        self.path = path
        self.docs = docs

    def calls(self, spark):
        """(name, DataFrame factory) of the three dedup functions."""
        from pyspark.sql import functions as F

        from learnhtml_spark.functions.dedup import (
            dup_clusters,
            incremental_dedup,
            neardup_pairs,
        )

        d = spark.read.parquet(self.path)
        odd = d.filter(F.col("doc_id") % 2 == 1)
        even = d.filter(F.col("doc_id") % 2 == 0)
        return [
            ("neardup_pairs", lambda: neardup_pairs(d)),
            ("dup_clusters", lambda: dup_clusters(d)),
            ("incremental", lambda: incremental_dedup(odd, even)),
        ]

    def verify(self, spark, check: Check) -> None:
        """All replicas of a text share one component, every odd replica is
        flagged, every twin pair is found."""
        out = {name: make().toPandas() for name, make in self.calls(spark)}
        r = gen.REPLICAS
        partners: dict[int, set] = {int(d): set() for d in self.docs["doc_id"]}
        for a, b in zip(out["neardup_pairs"]["doc_a"], out["neardup_pairs"]["doc_b"]):
            partners[int(a)].add(int(b))
            partners[int(b)].add(int(a))
        cluster = dict(zip(out["dup_clusters"]["doc_id"].astype(int),
                           out["dup_clusters"]["cluster_id"].astype(int)))
        flagged = dict(zip(out["incremental"]["doc_id"].astype(int),
                           out["incremental"]["is_dup_of_corpus"]))
        split = unflagged = missed = 0
        for doc_id in partners:
            family = {r * (doc_id // r) + k for k in range(r)}
            split += len({cluster.get(d) for d in family}) > 1 or doc_id not in cluster
            unflagged += doc_id % 2 == 1 and not flagged.get(doc_id, False)
            missed += not family - {doc_id} <= partners[doc_id]
        for n, what in (
            (split, "documents outside their replicas' dup_clusters component"),
            (unflagged, "odd replicas not flagged by incremental_dedup"),
            (missed, "documents missing a twin pair in neardup_pairs"),
        ):
            if n:
                check.problems.append(f"{n} {what}")

    def trace_pass(self, spark, tracer, jobs, layers) -> None:
        for name, make in self.calls(spark):
            with tracer.span(f"functions.dedup.{name}") as s:
                _, n_jobs = jobs(noop, make())
            layers[f"functions.dedup.{name}_s"].append(s.seconds)
            layers[f"functions.dedup.{name}_jobs"].append(n_jobs)


WORKLOADS = {w.name: w for w in (WidePages, CrawlResume)}
