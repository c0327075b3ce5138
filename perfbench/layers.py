"""Traced run: per-layer metrics, measured from outside the package.

Three sources, none of them inside ``wpextract_spark``:

1. Spark's own event log, switched on through the benchmark session's
   config for the traced part of the run only. Jobs are attributed to the package
   call sites recorded for them (``collect at .../plans/corpus_build.py:86``;
   :class:`PackageCallSites` fills in the jobs PySpark leaves without one);
   what no call site claims is ``plans.unattributed_s``. Tasks give the
   engine numbers (percentiles, skew, GC, shuffle, spill, waits).
2. Timed calls into each layer's public functions over the workload's own
   inputs: the stage ladder scan -> Arrow round-trip -> fused UDF, the
   source readers, curation, dedup, packing and the sinks.
3. In-process htmlkit and kernel probes, per html size stratum.

A layer the workload does not use reports 0 (README.md lists which metric
applies to which workload). Tracing overhead is the traced iteration's
wall time minus that of an untraced iteration; each is the first iteration
on a freshly restarted session.
"""

from __future__ import annotations

import json
import random
import re
import statistics
import sys
import time
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

STRATA = ("small", "p50", "p99")
CORPUS_STAGES = ("extract", "curate", "split", "pack", "profile")

#: Per-layer metrics (``--trace 1``): name -> unit.
LAYER_UNITS = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "sources.scan.docs_per_s": "docs/s",
    "sources.warc.mb_per_s": "MB/s",
    "sources.entities.load_s": "s",
    "sources.scrape.crawl_s": "s",
    **{f"htmlkit.tokenize.us_per_doc.{s}": "us" for s in STRATA},
    **{f"htmlkit.parse.us_per_doc.{s}": "us" for s in STRATA},
    **{f"htmlkit.parse.mb_per_s.{s}": "MB/s" for s in STRATA},
    "kernel.extract_content.us_per_doc": "us",
    "kernel.translations.us_per_doc": "us",
    "kernel.warc.mb_per_s": "MB/s",
    "operators.arrow_roundtrip.docs_per_s": "docs/s",
    "operators.content_extract.docs_per_s": "docs/s",
    "operators.content_extract.quarantined": "count",
    "operators.udf_efficiency": "ratio",
    "operators.curation.s": "s",
    **{f"operators.curation.rejects.{r}": "count"
       for r in ("gopher", "c4", "exact_dup", "near_dup")},
    "operators.dedup.ngram_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.precision": "ratio",
    "operators.packing.s": "s",
    "operators.snapshot.diff_s": "s",
    "operators.registry.build_s": "s",
    "operators.resolve.s": "s",
    "plans.job.write_s": "s",
    "plans.job.lineage_reread_s": "s",
    "plans.incremental.corpus_write_s": "s",
    "plans.incremental.diff_write_s": "s",
    "plans.incremental.metrics_s": "s",
    **{f"plans.corpus_build.{stage}_s": "s" for stage in CORPUS_STAGES},
    "plans.unattributed_s": "s",
    "plans.incremental.kernel_docs": "count",
    "plans.incremental.kernel_savings": "ratio",
    "sinks.parquet.write_mb_per_s": "MB/s",
    "sinks.shards.write_s": "s",
    "sinks.parity.export_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_retries": "count",
    "spark.task_s.p50": "s",
    "spark.task_s.p99": "s",
    "spark.task_s.samples": "count",
    "spark.task_skew": "ratio",
    "spark.executor_busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
}


# -- event log ---------------------------------------------------------------------

_SITE = re.compile(r"([\w./-]+\.py):(\d+)")


def _markers(path: Path, marks: dict[str, str]) -> dict[str, int]:
    """First line number (1-based) of each marker string in a source file."""
    found = {}
    for no, line in enumerate(path.read_text().splitlines(), 1):
        for key, text in marks.items():
            if key not in found and text in line:
                found[key] = no
    return found


def call_site_buckets(pkg: Path) -> list[tuple[str, int, int, str]]:
    """(file suffix, first line, last line, metric) ranges. Line ranges come
    from statements in the package source, so they follow edits to it; a
    job whose call site falls in no range stays unattributed."""
    out = []
    job = _markers(pkg / "plans" / "job.py", {
        "write": "extracted.write",
        "reread": "written = self.spark.read.parquet",
        "end": "return ChunkResult(",
    })
    if len(job) == 3:
        out.append(("plans/job.py", job["write"], job["reread"] - 1, "plans.job.write_s"))
        out.append(("plans/job.py", job["reread"], job["end"], "plans.job.lineage_reread_s"))
    cli = _markers(pkg / "cli.py", {
        "corpus": 'corpus.write.parquet(str(out_dir / "corpus"))',
        "diff": 'diff.write.parquet(str(out_dir / "diff"))',
    })
    for key, metric in (("corpus", "corpus_write_s"), ("diff", "diff_write_s")):
        if key in cli:
            out.append(("wpextract_spark/cli.py", cli[key], cli[key], f"plans.incremental.{metric}"))
    inc = _markers(pkg / "plans" / "incremental.py", {"metrics": "def update_metrics("})
    if inc:
        out.append(("plans/incremental.py", inc["metrics"], 10**9, "plans.incremental.metrics_s"))
    # build_training_corpus's numbered stage comments; decontamination (no
    # benchmark set is given, so it issues no job) counts with curation.
    corpus = _markers(pkg / "plans" / "corpus_build.py", {
        "extract": "# 1. extract", "curate": "# 2. curate", "split": "# 4. split",
        "pack": "# 5. pack", "profile": "# 6. profile",
    })
    if len(corpus) == len(CORPUS_STAGES):
        ends = [corpus[s] - 1 for s in CORPUS_STAGES[1:]] + [10**9]
        for stage, end in zip(CORPUS_STAGES, ends):
            out.append(("plans/corpus_build.py", corpus[stage], end,
                        f"plans.corpus_build.{stage}_s"))
    return out


class PackageCallSites:
    """Give every Spark job the package call site that led to it.

    PySpark records a Python call site only for collect-style actions;
    writes, ``isEmpty`` and AQE's own jobs carry a JVM frame instead. While
    active, this hook wraps each Py4J call: when the chain of package frames
    on the Python stack changes, it stores that chain (innermost first,
    ``wpextract_spark/<module>.py:<line>``) as the ``callSite.short`` local
    property, which Spark copies into the job's properties in the event log.
    """

    def __init__(self, spark, root: Path) -> None:
        self.jsc = spark.sparkContext._jsc
        self.prefix = str(root) + "/"
        self.pkg = str(root / "wpextract_spark") + "/"
        self._last: object = None
        self._busy = False

    def _site(self) -> str | None:
        frames, f = [], sys._getframe(2)
        while f is not None:
            name = f.f_code.co_filename
            if name.startswith(self.pkg):
                frames.append(f"{name[len(self.prefix):]}:{f.f_lineno}")
            f = f.f_back
        return " <- ".join(frames) if frames else None

    def __enter__(self) -> "PackageCallSites":
        from py4j.java_gateway import JavaMember

        self._orig = JavaMember.__call__
        hook = self

        def call(member, *args):
            if not hook._busy:
                site = hook._site()
                if site != hook._last:
                    hook._busy = True
                    try:
                        hook.jsc.setLocalProperty("callSite.short", site)
                    finally:
                        hook._busy = False
                    hook._last = site
            result = hook._orig(member, *args)
            if member.name == "setCallSite":
                hook._last = object()  # PySpark set its own; ours is stale
            return result

        JavaMember.__call__ = call
        return self

    def __exit__(self, *exc) -> None:
        from py4j.java_gateway import JavaMember

        JavaMember.__call__ = self._orig
        self.jsc.setLocalProperty("callSite.short", None)


def read_event_log(event_dir: Path) -> list[dict]:
    """Every event of the (uncompressed, single-file) event logs in
    ``event_dir``."""
    events = []
    for path in sorted(event_dir.iterdir()):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _covered(spans: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of (start ms, end ms) spans."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total / 1000


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    values = sorted(values)
    return values[min(len(values) - 1, int(q * len(values)))]


def engine_metrics(events: list[dict], t0_ms: float, t1_ms: float, wall: float,
                   cores: int, buckets) -> dict[str, float]:
    """Spark engine and call-site numbers for jobs submitted in [t0, t1]."""
    jobs, stage_job = {}, {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and t0_ms <= e["Submission Time"] <= t1_ms:
            props = e.get("Properties") or {}
            site = props.get("callSite.short") or ""
            if not _SITE.search(site):
                infos = e.get("Stage Infos") or []
                site = " ".join(i.get("Stage Name", "") + " " + i.get("Details", "")
                                for i in infos[:1])
            jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None, "site": site}
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]

    spans: dict[str, list[tuple[float, float]]] = {m: [] for _, _, _, m in buckets}
    for job in jobs.values():
        span = (job["start"], job["end"] or job["start"])
        for m in _SITE.finditer(job["site"]):
            path, line = m.group(1), int(m.group(2))
            hit = next((b for b in buckets if path.endswith(b[0]) and b[1] <= line <= b[2]), None)
            if hit:
                spans[hit[3]].append(span)
                break
    # Wall time covered by each call site's jobs; AQE runs some jobs
    # concurrently, so overlapping jobs count once.
    out = {m: _covered(v) for m, v in spans.items()}
    attributed = _covered([x for v in spans.values() for x in v])
    out["plans.unattributed_s"] = max(wall - attributed, 0.0)

    durs, by_stage = [], {}
    run = gc = sched = fetch = sw = sr = spill = 0.0
    retries = 0
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_job:
            continue
        ti, tm = e["Task Info"], e.get("Task Metrics") or {}
        dur = (ti["Finish Time"] - ti["Launch Time"]) / 1000
        durs.append(dur)
        by_stage.setdefault(e["Stage ID"], []).append(dur)
        retries += int(ti.get("Attempt", 0) > 0 or ti.get("Failed", False))
        ex_run = tm.get("Executor Run Time", 0) / 1000
        run += ex_run
        gc += tm.get("JVM GC Time", 0) / 1000
        sched += max(dur - ex_run - (tm.get("Executor Deserialize Time", 0)
                                     + tm.get("Result Serialization Time", 0)
                                     + ti.get("Getting Result Time", 0)) / 1000, 0.0)
        srm, swm = tm.get("Shuffle Read Metrics") or {}, tm.get("Shuffle Write Metrics") or {}
        fetch += srm.get("Fetch Wait Time", 0) / 1000
        sr += (srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)) / 1e6
        sw += swm.get("Shuffle Bytes Written", 0) / 1e6
        spill += tm.get("Disk Bytes Spilled", 0) / 1e6
    skews = [max(d) / max(statistics.median(d), 1e-3)
             for d in by_stage.values() if len(d) > 1 and max(d) >= 0.1]
    out.update({
        "spark.jobs": len(jobs),
        "spark.tasks": len(durs),
        "spark.task_retries": retries,
        "spark.task_s.p50": _pct(durs, 0.5),
        "spark.task_s.p99": _pct(durs, 0.99),
        "spark.task_s.samples": len(durs),
        "spark.task_skew": max(skews, default=1.0),
        "spark.executor_busy_frac": run / (wall * cores) if wall else 0.0,
        "spark.gc_s": gc,
        "spark.scheduler_delay_s": sched,
        "spark.shuffle_fetch_wait_s": fetch,
        "spark.shuffle_write_mb": sw,
        "spark.shuffle_read_mb": sr,
        "spark.spill_mb": spill,
    })
    return out


# -- in-process probes -------------------------------------------------------------


class _NoopSink:
    def handle_starttag(self, tag, attrs):
        pass

    handle_startendtag = handle_starttag

    def handle_endtag(self, tag):
        pass

    def handle_data(self, data):
        pass

    handle_comment = handle_decl = handle_pi = handle_data

    def unknown_decl(self, data):
        pass


def strata(docs: list[tuple[str, bytes]], seed: int, per: int = 24) -> dict[str, list]:
    """Size strata over (url, html): the smallest tenth, the middle tenth
    and the largest hundredth (at least two docs), each sampled to ``per``."""
    docs = sorted(docs, key=lambda d: len(d[1]))
    n = len(docs)
    cut = {
        "small": docs[: max(n // 10, 1)],
        "p50": docs[int(n * 0.45): max(int(n * 0.55), int(n * 0.45) + 1)],
        "p99": docs[min(int(n * 0.99), n - 2):],
    }
    rng = random.Random(seed)
    return {k: rng.sample(v, min(per, len(v))) for k, v in cut.items()}


def _time_each(fn, items) -> float:
    t0 = time.perf_counter()
    for x in items:
        fn(x)
    return time.perf_counter() - t0


def kernel_probes(docs: list[tuple[str, bytes]], seed: int) -> dict[str, float]:
    from wpextract_spark.htmlkit import parse_html
    from wpextract_spark.htmlkit.tokenize import fast_feed
    from wpextract_spark.kernel.content import extract_content
    from wpextract_spark.kernel.translations import extract_translations

    out = {}
    parsed = []
    for name, sample in strata(docs, seed).items():
        texts = [h.decode("utf-8", errors="replace") for _, h in sample]
        tok = _time_each(lambda t: fast_feed(_NoopSink(), t), texts)
        parse = _time_each(parse_html, [h for _, h in sample])
        mb = sum(len(h) for _, h in sample) / 1e6
        out[f"htmlkit.tokenize.us_per_doc.{name}"] = tok / len(sample) * 1e6
        out[f"htmlkit.parse.us_per_doc.{name}"] = parse / len(sample) * 1e6
        out[f"htmlkit.parse.mb_per_s.{name}"] = mb / parse
        parsed += [(url, parse_html(h)) for url, h in sample]
    ext = _time_each(lambda d: extract_content(d[1], d[0]), parsed)
    tr = _time_each(lambda d: extract_translations(d[1], d[0]), parsed)
    out["kernel.extract_content.us_per_doc"] = ext / len(parsed) * 1e6
    out["kernel.translations.us_per_doc"] = tr / len(parsed) * 1e6
    return out


def kernel_docs_per_s(docs: list[tuple[str, bytes]]) -> float:
    """Single-core parse + extract rate over the given docs."""
    from wpextract_spark.htmlkit import parse_html
    from wpextract_spark.kernel.content import extract_content

    secs = _time_each(lambda d: extract_content(parse_html(d[1]), d[0]), docs)
    return len(docs) / secs


def warc_mb_per_s(blobs: list[bytes]) -> float:
    from wpextract_spark.kernel.warc import parse_warc

    secs = _time_each(parse_warc, blobs)
    return sum(len(b) for b in blobs) / 1e6 / secs


# -- Spark-side probes -------------------------------------------------------------


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _best(fn, repeats: int = 2) -> float:
    return min(fn() for _ in range(repeats))


def ladder(spark, pages_path: Path, cores: int, kernel_rate: float, work: Path) -> dict:
    """scan -> Arrow round-trip -> fused UDF over one pages parquet, then
    the parquet sink over the materialized UDF output."""
    from pyspark.sql import functions as F

    from wpextract_spark.operators.extract import CONTENT_RESULT_TYPE, content_extract_udf

    @F.pandas_udf(CONTENT_RESULT_TYPE)
    def _identity(html: pd.Series, url: pd.Series) -> pd.DataFrame:
        n = len(html)
        return pd.DataFrame({
            "text": url, "links_internal": [[]] * n, "links_external": [[]] * n,
            "embeds": [[]] * n, "images": [[]] * n, "error": [None] * n,
        })

    pages = spark.read.parquet(str(pages_path))
    n = pages.count()
    scan = _best(lambda: _noop(pages.select(F.length("html"))))
    arrow = _best(lambda: _noop(pages.select(_identity("html", "url").alias("c"))))
    extracted = pages.select("url", content_extract_udf()("html", "url").alias("content"))
    udf = _noop(extracted)
    cached = extracted.cache()
    quarantined = cached.where(F.col("content.error").isNotNull()).count()
    out = work / "sink-probe"
    t0 = time.perf_counter()
    cached.write.mode("overwrite").parquet(str(out))
    sink_s = time.perf_counter() - t0
    sink_mb = sum(p.stat().st_size for p in out.rglob("*.parquet")) / 1e6
    cached.unpersist()
    return {
        "sources.scan.docs_per_s": n / scan,
        "operators.arrow_roundtrip.docs_per_s": n / arrow,
        "operators.content_extract.docs_per_s": n / udf,
        "operators.content_extract.quarantined": quarantined,
        "operators.udf_efficiency": (n / udf) / (cores * kernel_rate),
        "sinks.parquet.write_mb_per_s": sink_mb / sink_s,
    }


def warc_source(spark, warc_glob: str, mb: float) -> float:
    from wpextract_spark.sources.warc import read_warc_records, warc_to_pages

    secs = _best(lambda: _noop(warc_to_pages(read_warc_records(spark, warc_glob))))
    return mb / secs


def site_probes(spark, e2e: Path, work: Path) -> dict:
    """The site pipeline's layers over the reference site: the six entity
    loads (with the columns the pipeline asks for), the scrape crawl,
    registry build, resolution and the parity sink."""
    from wpextract_spark.plans import pipeline as p
    from wpextract_spark.sources.entities import load_entity
    from wpextract_spark.sources.scrape import crawl_self_urls, load_scrape_dir

    needed = {
        "media": (p.MEDIA_EXPORT, p._MEDIA_DERIVED),
        "posts": (p.POSTS_EXPORT, p._POSTS_DERIVED),
        "pages": (p.PAGES_EXPORT, p._PAGES_DERIVED),
        "tags": (p.TAGS_EXPORT, p._SIMPLE_DERIVED),
        "categories": (p.CATEGORIES_EXPORT, p._SIMPLE_DERIVED),
        "users": (p.USERS_EXPORT, p._USERS_DERIVED),
    }
    out = {}
    t0 = time.perf_counter()
    for name, (export, derived) in needed.items():
        ef = load_entity(spark, name, e2e / "download_out" / f"{name}.json",
                         p._raw_needed(export, derived))
        if ef.df is not None:
            ef.df.count()
    out["sources.entities.load_s"] = time.perf_counter() - t0
    out["sources.scrape.crawl_s"] = _noop(
        crawl_self_urls(load_scrape_dir(spark, str(e2e / "site_scrape")))
    )
    ex = p.SparkSiteExtractor(spark, json_root=e2e / "download_out",
                              scrape_root=e2e / "site_scrape")
    ex.extract()
    t0 = time.perf_counter()
    ex.registry.count()
    out["operators.registry.build_s"] = time.perf_counter() - t0
    # The resolved posts are cached by this timing, so the export below
    # measures the sink rather than re-running resolution.
    posts = ex.entities["posts"]
    posts.df = posts.df.cache()
    out["operators.resolve.s"] = _noop(posts.df)
    t0 = time.perf_counter()
    ex.export(work / "parity-probe")
    out["sinks.parity.export_s"] = time.perf_counter() - t0
    return out


def refresh_probe(spark, seed: int, work: Path) -> tuple[dict, tuple, list]:
    """The ``refresh`` command once over its generated crawl pair (PREV is
    built in this run's work directory, untimed), its output checked; then
    the snapshot diff alone and the incremental plan's own ledger. Returns
    the metrics, the command's (start ms, end ms, wall s) window for the
    event log, and the check's problems."""
    import contextlib
    import io

    import checks
    import gen
    from pyspark.sql import functions as F

    from wpextract_spark import cli
    from wpextract_spark.operators.snapshot import snapshot_diff
    from wpextract_spark.plans.incremental import (
        extract_pages,
        incremental_update,
        update_metrics,
    )

    inputs, manifest = gen.generate("refresh", seed)
    prev_path, out = work / "refresh-prev", work / "refresh-out"
    extract_pages(spark.read.parquet(str(inputs / "crawl_a.parquet"))).write.parquet(
        str(prev_path))
    pages_path = inputs / "crawl_b.parquet"
    t0_ms, t0 = time.time() * 1000, time.perf_counter()
    with PackageCallSites(spark, gen.ROOT), contextlib.redirect_stdout(io.StringIO()):
        code = cli.main(["refresh", str(prev_path), str(pages_path), str(out)])
    window = (t0_ms, time.time() * 1000, time.perf_counter() - t0)
    problems = ([f"refresh exited {code}"] if code
                else checks.check_refresh(inputs, manifest, seed, out))

    prev = spark.read.parquet(str(prev_path))
    pages = spark.read.parquet(str(pages_path))
    diff_s = _noop(snapshot_diff(prev.select("url", F.col("page_fp").alias("fp")),
                                 pages.select("url", F.md5("html").alias("fp")),
                                 id_col="url", fingerprint=F.col("fp")))
    metrics = update_metrics(incremental_update(prev, pages)[1])
    return {
        "operators.snapshot.diff_s": diff_s,
        "plans.incremental.kernel_docs": metrics["extracted"],
        "plans.incremental.kernel_savings": metrics["kernel_savings"],
    }, window, problems


def corpus_operators(spark, docs_path: Path, manifest: dict, work: Path) -> tuple[dict, list]:
    """Curation, dedup, packing and the shard sink, each over the corpus's
    own extracted documents (materialized beforehand, so each timing is
    that operator alone). The reject and pair counts are checked against
    the planted ones: a mismatch is a problem, never a better number."""
    from pyspark.sql import functions as F

    from wpextract_spark.operators.curation import curation_pipeline
    from wpextract_spark.operators.dedup import lsh_candidate_pairs, ngram_jaccard_pairs
    from wpextract_spark.operators.packing import pack_sequences
    from wpextract_spark.sinks.shards import write_training_shards

    docs = spark.read.parquet(str(docs_path))
    out, problems = {}, []
    verdicts = curation_pipeline(docs)
    out["operators.curation.s"] = _noop(verdicts)
    reasons = {r["reject_reason"]: r["n"] for r in
               verdicts.where(~F.col("keep")).groupBy("reject_reason")
               .agg(F.count("*").alias("n")).collect()}
    for r in ("gopher", "c4", "exact_dup", "near_dup"):
        out[f"operators.curation.rejects.{r}"] = reasons.get(r, 0)
    if reasons != manifest["rejects"]:
        problems.append(f"curation rejects {reasons} != planted {manifest['rejects']}")
    # The propose and verify parameters curation_pipeline uses.
    cands = lsh_candidate_pairs(docs, "doc_id", "text", k=8, bands=2, max_bucket=100).cache()
    n_cands = cands.count()
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.05, candidates=cands
    ).cache()
    out["operators.dedup.ngram_s"] = _noop(pairs)
    n_pairs = pairs.count()
    pairs.unpersist()
    cands.unpersist()
    if n_pairs != manifest["dup_pairs"]:
        problems.append(f"{n_pairs} verified duplicate pairs, planted {manifest['dup_pairs']}")
    out["operators.dedup.candidate_pairs"] = n_cands
    out["operators.dedup.verified_pairs"] = n_pairs
    out["operators.dedup.precision"] = n_pairs / n_cands if n_cands else 0.0
    seqs = pack_sequences(docs, seq_len=manifest["seq_len"]).cache()
    out["operators.packing.s"] = _noop(seqs)
    t0 = time.perf_counter()
    write_training_shards(seqs, str(work / "shards-probe"), manifest["seqs_per_shard"])
    out["sinks.shards.write_s"] = time.perf_counter() - t0
    seqs.unpersist()
    return out, problems


def corpus_probes(spark, inputs: Path, manifest: dict, work: Path) -> tuple[dict, list]:
    """The corpus layers over the documents extracted from the workload's
    own WARC files."""
    from pyspark.sql import functions as F

    from wpextract_spark.operators.extract import content_extract_udf
    from wpextract_spark.sources.warc import read_warc_records, warc_to_pages

    docs_path = work / "corpus-docs.parquet"
    pages = warc_to_pages(read_warc_records(spark, str(inputs / "warc")))
    pages.select(
        F.xxhash64("url").alias("doc_id"),
        content_extract_udf()("html", "url")["text"].alias("text"),
    ).write.parquet(str(docs_path))
    return corpus_operators(spark, docs_path, manifest, work)


# -- the traced run ---------------------------------------------------------------


def _input_docs(workload) -> list[tuple[str, bytes]]:
    """(url, html) of the workload's documents that parse."""
    t = pq.read_table(workload.inputs / workload.pages)
    fail = set(workload.manifest.get("must_fail", ()))
    return [(u, h) for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist())
            if h is not None and u not in fail]


def traced(args, work: Path, workload, it, session: dict, restart, cores: int) -> dict:
    """After the warm-up: one untraced iteration on a restarted session and
    one traced iteration on a session restarted with the event log on, so
    both are the first iteration after a restart and differ only by the
    tracing; then the layer probes. Returns every per-layer metric."""
    import gen

    workload.spark.stop()
    workload.spark = restart(None)
    untraced = it.one()

    workload.spark.stop()
    event_dir = work / "events"
    spark = workload.spark = restart(event_dir)
    t0_ms = time.time() * 1000
    with PackageCallSites(spark, gen.ROOT):
        wall = it.one()
    t1_ms = time.time() * 1000

    m = {k: 0.0 for k in LAYER_UNITS}
    m.update(session)
    m.update({"trace.wall_s": wall, "trace.untraced_wall_s": untraced,
              "trace.overhead_s": wall - untraced})

    clock = [time.perf_counter()]

    def lap(what: str) -> None:
        now = time.perf_counter()
        print(f"probe {what}: {now - clock[0]:.1f}s", file=sys.stderr)
        clock[0] = now

    docs = _input_docs(workload)
    m.update(kernel_probes(docs, args.seed))
    lap("in-process kernel")
    refresh_window = None
    if workload.name == "corpus-build":
        warc = workload.inputs / "warc"
        blobs = [f.read_bytes() for f in sorted(warc.iterdir())]
        mb = sum(len(b) for b in blobs) / 1e6
        m["kernel.warc.mb_per_s"] = warc_mb_per_s(blobs)
        m["sources.warc.mb_per_s"] = warc_source(spark, str(warc), mb)
        lap("warc")
        found, problems = corpus_probes(spark, workload.inputs, workload.manifest, work)
        m.update(found)
        it.record(problems)
        lap("corpus")
    else:
        sample = random.Random(args.seed).sample(docs, min(len(docs), 200))
        m.update(ladder(spark, workload.inputs / workload.pages, cores,
                        kernel_docs_per_s(sample), work))
        lap("ladder")
        # The layers of the two user paths that are not workloads (README.md).
        found, refresh_window, problems = refresh_probe(spark, args.seed, work)
        m.update(found)
        it.record(problems)
        lap("refresh")
        m.update(site_probes(spark, gen.E2E, work))
        lap("site")

    spark.stop()
    events = read_event_log(event_dir)
    buckets = call_site_buckets(gen.ROOT / "wpextract_spark")
    m.update(engine_metrics(events, t0_ms, t1_ms, wall, cores, buckets))
    if refresh_window is not None:
        found = engine_metrics(events, *refresh_window, cores, buckets)
        m.update({k: v for k, v in found.items() if k.startswith("plans.incremental.")})
    unknown = set(m) - set(LAYER_UNITS)
    if unknown:
        raise RuntimeError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {k: {"value": float(m[k]), "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}
