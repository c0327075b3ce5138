"""Output checks, one per workload.

A check reads the command's output files with pyarrow and compares them
with facts fixed when the inputs were generated (``manifest.json``), with
the reference construction of the synthetic pages, or with the extraction
kernel run in this process on a seeded sample. Nothing here calls the
Spark path being timed. Each check returns a list of problems; an empty
list means the output is correct.
"""

from __future__ import annotations

import hashlib
import json
import random
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq

#: Pages per check (per kind) compared against the in-process kernel.
KERNEL_SAMPLE = 12


def _read_dir(path: Path):
    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table()


def _spans(content: dict) -> tuple:
    return (
        [(s["text"], s["href"]) for s in content["links_internal"] or []],
        [(s["text"], s["href"]) for s in content["links_external"] or []],
        list(content["embeds"] or []),
        [(s["src"], s["alt"], s["caption"]) for s in content["images"] or []],
    )


def check_extract_bulk(inputs: Path, manifest: dict, seed: int, out: Path) -> list[str]:
    from wpextract_spark.htmlkit import parse_html
    from wpextract_spark.kernel.content import extract_content
    from wpextract_spark.sources.synth import synth_page

    problems: list[str] = []
    table = _read_dir(out / "data").select(["url", "content"]).to_pylist()
    by_url = {}
    for row in table:
        if row["url"] in by_url:
            problems.append(f"duplicate output row for {row['url']}")
        by_url[row["url"]] = row["content"]
    pages = pq.read_table(inputs / "pages.parquet")
    html_of = dict(zip(pages.column("url").to_pylist(), pages.column("html").to_pylist()))
    missing = set(html_of) - set(by_url)
    extra = set(by_url) - set(html_of)
    if missing or extra:
        problems.append(f"row set differs: {len(missing)} missing, {len(extra)} unexpected")

    failed = {u for u, c in by_url.items() if c is not None and c["error"] is not None}
    if failed != set(manifest["must_fail"]):
        problems.append(
            f"content.error set on {len(failed)} pages, expected exactly "
            f"{len(manifest['must_fail'])} (the nesting-guard pages)"
        )
    for url in manifest["null_html"]:
        c = by_url.get(url)
        if c is not None and any(v is not None for v in c.values()):
            problems.append(f"null html {url} produced content")

    for doc_id, url in enumerate(manifest["synth_urls"]):
        c = by_url.get(url)
        if c is None:
            continue
        want = synth_page(doc_id, seed=seed, with_expected=True)
        got = (
            c["text"],
            len(c["links_internal"] or []),
            len(c["links_external"] or []),
            len(c["images"] or []),
            len(c["embeds"] or []),
        )
        exp = (
            want["expected_text"],
            want["expected_n_internal"],
            want["expected_n_external"],
            want["expected_n_images"],
            want["expected_n_embeds"],
        )
        if got != exp:
            problems.append(f"synthetic page {url}: output differs from its construction")

    sample = sorted(manifest["rehosted"])
    random.Random(seed).shuffle(sample)
    for url in sample[:KERNEL_SAMPLE]:
        c = by_url.get(url)
        if c is None:
            continue
        want = extract_content(parse_html(html_of[url]), url)
        if c["text"] != want["text"] or _spans(c) != _spans(want):
            problems.append(f"re-hosted page {url}: differs from the in-process kernel")
    return problems


def check_corpus_build(inputs: Path, manifest: dict, seed: int, out: Path) -> list[str]:
    """The ``metrics.json`` ledger against the planted counts, and the
    shards against the ledger's ``pack`` entry."""
    problems: list[str] = []
    metrics_path = out / "metrics.json"
    if not metrics_path.exists():
        return ["metrics.json missing"]
    stages = json.loads(metrics_path.read_text())["stages"]
    n, kept = manifest["n_docs"], manifest["kept"]
    if stages["extract"] != {"in": n, "out": n}:
        problems.append(f"extract ledger {stages['extract']}, expected {n} in and out")
    rejects = stages["curate"]["rejects_by_reason"]
    if rejects != manifest["rejects"] or stages["curate"]["out"] != kept:
        problems.append(
            f"curate ledger {stages['curate']}, planted rejects {manifest['rejects']} "
            f"and {kept} kept"
        )
    split = stages["split"]
    if sum(split.values()) != kept:
        problems.append(f"split ledger {split} does not add up to the {kept} kept documents")
    for name, count in split.items():
        if name == "train":
            continue
        rows = _read_dir(out / name).num_rows if (out / name).exists() else 0
        if rows != count:
            problems.append(f"{name} split has {rows} documents, ledger says {count}")

    pack = stages["pack"]
    shards = _read_dir(out / "train_shards").select(["seq_id", "n_tokens", "shard"]).to_pylist()
    seq_ids = sorted(r["seq_id"] for r in shards)
    if seq_ids != list(range(pack["n_sequences"])):
        problems.append(f"shards hold {len(seq_ids)} sequences, ledger says {pack['n_sequences']}")
    if sum(r["n_tokens"] for r in shards) != pack["n_tokens"]:
        problems.append("shard token total differs from the pack ledger")
    per_shard = manifest["seqs_per_shard"]
    if any(r["shard"] != r["seq_id"] // per_shard for r in shards):
        problems.append("a sequence sits in the wrong shard")
    last = max(seq_ids, default=-1)
    if any(r["n_tokens"] != pack["seq_len"] for r in shards if r["seq_id"] != last):
        problems.append(f"a sequence other than the last is not {pack['seq_len']} tokens")
    return problems


def check_refresh(inputs: Path, manifest: dict, seed: int, out: Path) -> list[str]:
    from wpextract_spark.htmlkit import parse_html
    from wpextract_spark.kernel.content import extract_content

    problems: list[str] = []
    metrics_path = out / "metrics.json"
    if not metrics_path.exists():
        return ["metrics.json missing"]
    by_status = json.loads(metrics_path.read_text())["by_status"]
    if by_status != manifest["by_status"]:
        problems.append(f"by_status {by_status} != planted {manifest['by_status']}")
    table = _read_dir(out / "corpus")
    n_rows = table.num_rows
    corpus = {r["url"]: r for r in table.to_pylist()}
    crawl_b = pq.read_table(inputs / "crawl_b.parquet")
    html_of = dict(zip(crawl_b.column("url").to_pylist(), crawl_b.column("html").to_pylist()))
    if n_rows != len(html_of) or set(corpus) != set(html_of):
        problems.append(f"corpus has {n_rows} rows for {len(html_of)} pages of the new crawl")
    rng = random.Random(seed)
    stale = set(manifest["stale"])
    carried = sorted(set(html_of) - stale)
    sample = rng.sample(sorted(stale), min(KERNEL_SAMPLE, len(stale)))
    sample += rng.sample(carried, min(KERNEL_SAMPLE, len(carried)))
    for url in sample:
        row = corpus.get(url)
        if row is None:
            continue
        html = html_of[url]
        want = extract_content(parse_html(html), url)["text"]
        if row["text"] != want or row["page_fp"] != hashlib.md5(html).hexdigest():
            problems.append(f"{url}: text or fingerprint differs from the new crawl")
    return problems
