"""Tests of the benchmark itself (no Spark): deterministic inputs, output
checks that catch planted corruption, and metric names that match
BENCHMARK.json.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture
def small(monkeypatch):
    """Shrink every workload so a test generates its inputs in well under a
    second."""
    for key, value in {
        "BULK_SYNTH": 40, "BULK_REHOST_COPIES": 1, "BULK_BIG_BYTES": 20_000,
        "CORPUS_BASE": 8, "CORPUS_MAX_WORDS": 300, "REFRESH_PAGES": 60,
    }.items():
        monkeypatch.setattr(gen, key, value)


def _files(root: Path) -> dict[str, bytes]:
    return {p.relative_to(root).as_posix(): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_identical_inputs(small, tmp_path, workload):
    a, ma = gen.generate(workload, 5, tmp_path / "a")
    b, mb = gen.generate(workload, 5, tmp_path / "b")
    c, _ = gen.generate(workload, 6, tmp_path / "c")
    assert ma == mb
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)


# -- extract-bulk -------------------------------------------------------------------


def _bulk_output(inputs: Path, out: Path) -> None:
    """What the job writes, computed with the in-process kernel."""
    from wpextract_spark.htmlkit import parse_html
    from wpextract_spark.kernel.content import extract_content

    pages = pq.read_table(inputs / "pages.parquet").to_pylist()
    rows = []
    for p in pages:
        if p["html"] is None:
            content = dict.fromkeys(
                ["text", "links_internal", "links_external", "embeds", "images", "error"])
        else:
            try:
                content = extract_content(parse_html(p["html"]), p["url"])
                content["error"] = None
            except Exception as exc:
                content = dict.fromkeys(
                    ["text", "links_internal", "links_external", "embeds", "images"])
                content["error"] = f"{type(exc).__name__}: {exc}"
        rows.append({"url": p["url"], "content": content})
    (out / "data" / "chunk=0").mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows), out / "data" / "chunk=0" / "part-0.parquet")


def _rewrite(out: Path, edit) -> None:
    path = out / "data" / "chunk=0" / "part-0.parquet"
    rows = pq.read_table(path).to_pylist()
    pq.write_table(pa.Table.from_pylist(edit(rows)), path)


def _alter_text(rows, prefix):
    for r in rows:
        if r["url"].startswith(prefix) and r["content"]["text"]:
            r["content"]["text"] += " altered"
            break
    return rows


def _quarantine_extra(rows):
    for r in rows:
        if r["content"]["error"] is None and r["content"]["text"]:
            r["content"]["error"] = "ValueError: planted"
            break
    return rows


def _clear_quarantine(rows):
    for r in rows:
        if r["content"]["error"] is not None:
            r["content"]["error"] = None
            break
    return rows


@pytest.mark.parametrize("corrupt", [
    lambda rows: rows[1:],
    lambda rows: rows + rows[:1],
    lambda rows: _alter_text(rows, "https://site"),
    lambda rows: _alter_text(rows, "https://rehost"),
    _quarantine_extra,
    _clear_quarantine,
], ids=["dropped-row", "duplicated-row", "synth-text", "rehosted-text",
        "extra-quarantine", "missed-quarantine"])
def test_extract_bulk_check(small, monkeypatch, tmp_path, corrupt):
    inputs, manifest = gen.generate("extract-bulk", 3, tmp_path / "in")
    out = tmp_path / "out"
    _bulk_output(inputs, out)
    # Every re-hosted page is in the kernel sample, so an altered one is seen.
    monkeypatch.setattr(checks, "KERNEL_SAMPLE", len(manifest["rehosted"]))
    assert checks.check_extract_bulk(inputs, manifest, 3, out) == []
    _rewrite(out, corrupt)
    assert checks.check_extract_bulk(inputs, manifest, 3, out)


# -- refresh ------------------------------------------------------------------------


def _refresh_output(inputs: Path, manifest: dict, out: Path) -> None:
    """What ``refresh`` writes, computed with the in-process kernel."""
    import hashlib

    from wpextract_spark.htmlkit import parse_html
    from wpextract_spark.kernel.content import extract_content

    pages = pq.read_table(inputs / "crawl_b.parquet").to_pylist()
    rows = [{"url": p["url"], "page_fp": hashlib.md5(p["html"]).hexdigest(),
             "text": extract_content(parse_html(p["html"]), p["url"])["text"]}
            for p in pages]
    (out / "corpus").mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows), out / "corpus" / "part-0.parquet")
    (out / "metrics.json").write_text(json.dumps({"by_status": manifest["by_status"]}))


def _edit_corpus(out: Path, edit) -> None:
    path = out / "corpus" / "part-0.parquet"
    pq.write_table(pa.Table.from_pylist(edit(pq.read_table(path).to_pylist())), path)


def _edit_status(out: Path, status: str, delta: int) -> None:
    m = json.loads((out / "metrics.json").read_text())
    m["by_status"][status] += delta
    (out / "metrics.json").write_text(json.dumps(m))


def _alter_first(rows, field):
    rows[0][field] += "0"
    return rows


@pytest.mark.parametrize("corrupt", [
    lambda out: _edit_corpus(out, lambda rows: rows[1:]),
    lambda out: _edit_corpus(out, lambda rows: rows + rows[:1]),
    lambda out: _edit_corpus(out, lambda rows: _alter_first(rows, "text")),
    lambda out: _edit_corpus(out, lambda rows: _alter_first(rows, "page_fp")),
    lambda out: _edit_status(out, "changed", -1),
    lambda out: _edit_status(out, "added", +1),
    lambda out: (out / "metrics.json").unlink(),
], ids=["dropped-row", "duplicated-row", "altered-text", "altered-fingerprint",
        "changed-count", "added-count", "no-ledger"])
def test_refresh_check(small, monkeypatch, tmp_path, corrupt):
    inputs, manifest = gen.generate("refresh", 3, tmp_path / "in")
    out = tmp_path / "out"
    _refresh_output(inputs, manifest, out)
    # Every page is in the kernel sample, so an altered row is seen.
    monkeypatch.setattr(checks, "KERNEL_SAMPLE", manifest["n_docs"])
    assert checks.check_refresh(inputs, manifest, 3, out) == []
    corrupt(out)
    assert checks.check_refresh(inputs, manifest, 3, out)


# -- corpus-build -------------------------------------------------------------------


def _corpus_output(manifest: dict, out: Path) -> None:
    """A build-corpus output that agrees with the planted counts: the
    ledger, one val and one test document, and three packed sequences."""
    n, kept, seq_len = manifest["n_docs"], manifest["kept"], manifest["seq_len"]
    stages = {
        "extract": {"in": n, "out": n},
        "curate": {"in": n, "out": kept, "rejects_by_reason": manifest["rejects"]},
        "split": {"train": kept - 2, "val": 1, "test": 1},
        "pack": {"n_sequences": 3, "n_tokens": 2 * seq_len + 5, "seq_len": seq_len},
    }
    out.mkdir(parents=True)
    (out / "metrics.json").write_text(json.dumps({"stages": stages}))
    for name in ("val", "test"):
        (out / name).mkdir()
        pq.write_table(pa.table({"url": [f"https://x/{name}"], "text": ["t"]}),
                       out / name / "part-0.parquet")
    shard = out / "train_shards" / "shard=0"
    shard.mkdir(parents=True)
    pq.write_table(pa.table({"seq_id": [0, 1, 2], "n_tokens": [seq_len, seq_len, 5]}),
                   shard / "part-0.parquet")


def _edit_ledger(out: Path, edit) -> None:
    m = json.loads((out / "metrics.json").read_text())
    edit(m["stages"])
    (out / "metrics.json").write_text(json.dumps(m))


def _edit_shard(out: Path, edit) -> None:
    path = out / "train_shards" / "shard=0" / "part-0.parquet"
    pq.write_table(pa.Table.from_pylist(edit(pq.read_table(path).to_pylist())), path)


def _move_to_shard_1(out: Path) -> None:
    path = out / "train_shards" / "shard=0" / "part-0.parquet"
    rows = pq.read_table(path).to_pylist()
    pq.write_table(pa.Table.from_pylist(rows[:2]), path)
    (out / "train_shards" / "shard=1").mkdir()
    pq.write_table(pa.Table.from_pylist(rows[2:]),
                   out / "train_shards" / "shard=1" / "part-0.parquet")


@pytest.mark.parametrize("corrupt", [
    lambda out: _edit_ledger(out, lambda s: s["curate"]["rejects_by_reason"].update(c4=3)),
    lambda out: _edit_ledger(out, lambda s: s["curate"]["rejects_by_reason"].pop("near_dup")),
    lambda out: _edit_ledger(out, lambda s: s["extract"].update(out=s["extract"]["out"] - 1)),
    lambda out: _edit_ledger(out, lambda s: s["split"].update(val=2)),
    lambda out: _edit_shard(out, lambda rows: rows[:2]),
    lambda out: _edit_shard(out, lambda rows: [dict(r, n_tokens=r["n_tokens"] - 1)
                                               for r in rows]),
    lambda out: _move_to_shard_1(out),
    lambda out: (out / "metrics.json").unlink(),
], ids=["reject-count", "missed-near-dup", "dropped-doc", "split-count", "dropped-sequence",
        "short-sequence", "wrong-shard", "no-ledger"])
def test_corpus_build_check(small, tmp_path, corrupt):
    inputs, manifest = gen.generate("corpus-build", 3, tmp_path / "in")
    out = tmp_path / "out"
    _corpus_output(manifest, out)
    assert checks.check_corpus_build(inputs, manifest, 3, out) == []
    corrupt(out)
    assert checks.check_corpus_build(inputs, manifest, 3, out)


# -- metric names ---------------------------------------------------------------------


def test_metric_names_are_declared():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert run.E2E_UNITS == declared_e2e
    assert layers.LAYER_UNITS == declared_layer
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    for name in [*declared_e2e, *declared_layer]:
        assert NAME.match(name), name


def test_end_to_end_reports_exactly_the_declared_metrics(tmp_path):
    it = run.Iterations(workload=None, work=tmp_path)
    it.walls, it.rss, it.attempted = [2.0, 1.0, 3.0], [100.0, 120.0, 110.0], 3
    metrics = run.end_to_end(it, [9.0, 2.0, 2.5], {"n_docs": 10, "html_bytes": 2_000_000})
    assert set(metrics) == set(run.E2E_UNITS)
    assert metrics["wall_s"]["value"] == 2.0
    assert metrics["docs_per_s"]["value"] == 5.0
    assert metrics["setup_s"]["value"] == 2.5
    assert metrics["ops_ok_frac"]["value"] == 1.0


def test_call_site_buckets_cover_the_plans():
    buckets = layers.call_site_buckets(gen.ROOT / "wpextract_spark")
    assert {b[3] for b in buckets} == {
        "plans.job.write_s", "plans.job.lineage_reread_s",
        "plans.incremental.corpus_write_s", "plans.incremental.diff_write_s",
        "plans.incremental.metrics_s",
        *(f"plans.corpus_build.{stage}_s" for stage in layers.CORPUS_STAGES),
    }


def test_overlapping_jobs_count_once():
    assert layers._covered([(0, 1000), (500, 2000), (3000, 3500)]) == 2.5
    assert layers._covered([]) == 0.0
