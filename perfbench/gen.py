"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed``: the same seed writes
byte-identical files. The program under test only ever sees the files.
Planted facts (which pages must fail, how many duplicates, which urls
changed) are recorded in ``manifest.json`` next to the inputs, so the
output checks compare against what was built, never against a value the
timed code path computed.

Inputs live under ``perfbench/.cache/<workload>-s<seed>-<size>-<src>/`` and
are reused when the same (workload, seed, size) comes back for the same
sources: ``<src>`` is a digest of ``wpextract_spark``'s source files and of
this module, because the generators call the package, so two commits never
share inputs.
"""

from __future__ import annotations

import bisect
import functools
import hashlib
import json
import math
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
E2E = ROOT / "tests" / "data" / "e2e"
CACHE = Path(__file__).resolve().parent / ".cache"

# -- workload sizes -----------------------------------------------------------
# Sized so a whole run (cold start, two restarts, a warm-up and the timed
# iterations) stays within the run budget README.md works out.

#: extract-bulk: synthetic pages (~5 KB), re-hosted copies of each real
#: scraped page (~50 KB, with head/script/style), and the adversarial set.
BULK_SYNTH = 400
BULK_REHOST_COPIES = 1
#: Pages nested past the parser's 1,000-element depth guard: the only
#: pages whose extraction must fail (content.error set).
BULK_DEEP = 3
#: Multi-MB pages; fixed urls so their chunk placement never varies by seed.
BULK_BIG_BYTES = 2_000_000
BULK_BIG = 2

#: corpus-build: filter-passing base documents, log-uniform in length up
#: to CORPUS_MAX_WORDS, plus the planted sets.
CORPUS_BASE = 12
CORPUS_EXACT_DUPS = 2
CORPUS_NEAR_DUPS = 2
CORPUS_GOPHER_REJECTS = 2
CORPUS_C4_REJECTS = 2
CORPUS_MIN_WORDS = 60
CORPUS_MAX_WORDS = 3000
CORPUS_WARC_FILES = 8
CORPUS_SEQ_LEN = 512
CORPUS_SEQS_PER_SHARD = 16

#: refresh (the extract-bulk traced run's probe): crawl A, and crawl B = A
#: with planted changed/added/removed shares.
REFRESH_PAGES = 1000
REFRESH_CHANGED = 0.10
REFRESH_ADDED = 0.05
REFRESH_REMOVED = 0.05

SIZES = {
    "extract-bulk": f"{BULK_SYNTH}x{BULK_REHOST_COPIES}",
    "corpus-build": f"{CORPUS_BASE}",
    "refresh": f"{REFRESH_PAGES}",
}

PAGES_SCHEMA = pa.schema([("url", pa.string()), ("html", pa.binary())])


def _rng(seed: int, salt: str) -> random.Random:
    digest = hashlib.sha256(f"{seed}:{salt}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def _write_pages(path: Path, urls: list[str], htmls: list[bytes | None]) -> None:
    table = pa.table({"url": urls, "html": htmls}, schema=PAGES_SCHEMA)
    pq.write_table(table, path, row_group_size=256)


# -- extract-bulk ---------------------------------------------------------------


def real_pages() -> list[tuple[str, bytes]]:
    """The reference site's scraped pages, as (relative path, html bytes),
    in path order."""
    root = E2E / "site_scrape"
    return [
        (p.relative_to(root).as_posix(), p.read_bytes())
        for p in sorted(root.rglob("*.html"))
    ]


def adversarial_pages() -> list[tuple[str, bytes | None, bool]]:
    """(url, html, must_fail): a fixed set, identical for every seed."""
    deep = [
        (
            f"https://adversarial.example.net/deep/{i}/",
            b"<html><body>" + b"<div>" * (1001 + 150 * i) + b"x"
            + b"</div>" * (1001 + 150 * i) + b"</body></html>",
            True,
        )
        for i in range(BULK_DEEP)
    ]
    para = b"<p>" + b"lorem data column " * 12 + b"</p>\n"
    big = [
        (
            f"https://adversarial.example.net/big/{i}/",
            b"<html><head><title>big</title></head><body><main>"
            + para * (BULK_BIG_BYTES // len(para)) + b"</main></body></html>",
            False,
        )
        for i in range(BULK_BIG)
    ]
    odd = [
        ("https://adversarial.example.net/utf8/0/",
         b"<html><body><p>caf\xc3 \xff\xfe broken utf-8</p></body></html>", False),
        ("https://adversarial.example.net/utf8/1/",
         b"<html><body><p>\xed\xa0\x80 surrogate \xc0\xaf overlong</p></body></html>", False),
        ("https://adversarial.example.net/ctrl/0/",
         b"<html><body><p>nul\x00byte and \x01\x02\x1f control</p></body></html>", False),
        ("https://adversarial.example.net/ctrl/1/",
         b"\x00\x00<html>\x07<body>\x1b[0m<p>escape</p></body></html>", False),
        ("https://adversarial.example.net/null/", None, False),
        ("https://adversarial.example.net/empty/", b"", False),
    ]
    return deep + big + odd


def gen_extract_bulk(seed: int, out: Path) -> dict:
    from wpextract_spark.sources.synth import synth_page

    urls: list[str] = []
    htmls: list[bytes | None] = []
    for doc_id in range(BULK_SYNTH):
        row = synth_page(doc_id, seed=seed)
        urls.append(row["url"])
        htmls.append(row["html"])
    synth_urls = list(urls)
    rehosted = {}
    for copy in range(BULK_REHOST_COPIES):
        for rel, html in real_pages():
            url = f"https://rehost-{copy}.example.com/{rel[: -len('index.html')]}"
            urls.append(url)
            htmls.append(html)
            rehosted[url] = rel
    must_fail = []
    for url, html, fails in adversarial_pages():
        urls.append(url)
        htmls.append(html)
        if fails:
            must_fail.append(url)
    order = list(range(len(urls)))
    _rng(seed, "bulk-order").shuffle(order)
    _write_pages(out / "pages.parquet", [urls[i] for i in order], [htmls[i] for i in order])
    return {
        "n_docs": len(urls),
        "html_bytes": sum(len(h) for h in htmls if h),
        "synth_urls": synth_urls,
        "rehosted": rehosted,
        "must_fail": must_fail,
        "null_html": [u for u, h in zip(urls, htmls) if h is None],
    }


# -- corpus-build ---------------------------------------------------------------

_STOPWORDS = "the of and to in a is that for it as with was on by at from".split()
_ONSETS = "b c d f g h k l m n p r s t v w z br dr st tr pl gr kl sh th".split()
_VOWELS = "a e i o u ai ea io ou".split()
_CODAS = ["", "n", "r", "s", "l", "m", "nd", "st", "rk"]


def vocabulary(size: int = 30000) -> list[str]:
    """Seed-independent vocabulary of distinct pronounceable words."""
    rng = random.Random(7)
    words: list[str] = []
    seen = set(_STOPWORDS)
    while len(words) < size:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
            for _ in range(rng.randint(1, 3))
        )
        if w not in seen and 3 <= len(w) <= 10:
            seen.add(w)
            words.append(w)
    return words


@functools.cache
def _zipf_sampler() -> tuple[list[str], list[float], float]:
    """Zipf-Mandelbrot over the vocabulary (rank offset flattens the head
    so unrelated documents share almost no word trigrams)."""
    vocab = vocabulary()
    cum, total = [], 0.0
    for r in range(len(vocab)):
        total += 1.0 / (r + 60) ** 1.05
        cum.append(total)
    return vocab, cum, total


def _sentence(rng: random.Random, n_words: int, punct: bool = True) -> str:
    vocab, cum, total = _zipf_sampler()
    words = []
    for i in range(n_words):
        if i and rng.random() < 0.3:
            words.append(rng.choice(_STOPWORDS))
        else:
            words.append(vocab[bisect.bisect_left(cum, rng.random() * total)])
    words[0] = words[0].capitalize()
    return " ".join(words) + (rng.choice(".!?") if punct else "")


def _doc_body(rng: random.Random, n_words: int, punct: bool = True) -> list[str]:
    """Paragraph lines of about ``n_words`` words: sentences of 6-14 words,
    1-3 to a paragraph, but never fewer than four paragraphs when there are
    four sentences (C4 keeps a page only with three or more good lines)."""
    sents, left = [], n_words
    while left > 0:
        k = max(min(left, rng.randint(6, 14)), 5)
        sents.append(_sentence(rng, k, punct))
        left -= k
    most = max(1, len(sents) // 4)
    paras = []
    while sents:
        k = min(rng.randint(1, 3), most)
        paras.append(" ".join(sents[:k]))
        sents = sents[k:]
    return paras


def _c4_good_lines(text: str) -> int:
    """Lines C4 keeps: terminal punctuation and at least five words."""
    return sum(
        1 for line in text.split("\n")
        if line.strip()[-1:] in ('.', '!', '?', '"') and len(line.split()) >= 5
    )


def _corpus_html(title: str, paras: list[str]) -> bytes:
    body = "\n".join(f"<p>{p}</p>" for p in paras)
    return (
        f"<!doctype html><html><head><title>{title}</title></head>\n"
        f"<body><main>\n{body}\n</main></body></html>"
    ).encode()


def corpus_documents(seed: int) -> tuple[list[dict], dict]:
    """Rows (url, html, doc_id, text_words) and the planted reject counts."""
    rng = _rng(seed, "corpus")
    vocab = _zipf_sampler()[0]
    # Log-uniform lengths on a fixed grid from CORPUS_MIN_WORDS to
    # CORPUS_MAX_WORDS, the same for every seed: the n-gram verify is
    # quadratic in length, so a seed that drew a longer longest document
    # would do measurably more work. A seed changes content, not the work.
    n = CORPUS_BASE
    lo, hi = math.log(CORPUS_MIN_WORDS), math.log(CORPUS_MAX_WORDS)
    lengths = [int(math.exp(lo + (hi - lo) * i / (n - 1))) for i in range(n)]
    # Which doc id (and url, and so which partition) gets which length is
    # the same for every seed, so the long documents land in the same tasks.
    random.Random(0).shuffle(lengths)
    docs = []
    for i, n_words in enumerate(lengths):
        title_words = [rng.choice(vocab) for _ in range(5)] + [f"n{seed}x{i}"]
        docs.append({"title": " ".join(title_words), "paras": _doc_body(rng, n_words),
                     "group": i})
    by_len = sorted(range(n), key=lambda i: lengths[i])
    # Near-dup and exact-dup bases: disjoint, from the middle of the length
    # range, so the copies add neither short nor quadratic-cost long docs.
    mid = n // 2 - CORPUS_NEAR_DUPS
    near_bases = by_len[mid : mid + 2 * CORPUS_NEAR_DUPS : 2]
    exact_bases = by_len[mid + 1 : mid + 2 * CORPUS_EXACT_DUPS : 2]
    planted = []
    for b in exact_bases:
        planted.append(dict(docs[b], kind="exact_dup"))
    for b in near_bases:
        # Same word SET (so every MinHash band collides) but the title's
        # word order reversed: a different exact-dup key (first 5 words)
        # and a word-trigram Jaccard far above the 0.05 threshold.
        planted.append(dict(docs[b], title=" ".join(reversed(docs[b]["title"].split())),
                            kind="near_dup"))
    for j in range(CORPUS_GOPHER_REJECTS):
        # Under Gopher's 50-word minimum.
        planted.append({"title": f"note n{seed}g{j}", "paras": _doc_body(rng, 30),
                        "kind": "gopher"})
    for j in range(CORPUS_C4_REJECTS):
        # Enough words for Gopher, but no line ends in terminal punctuation.
        planted.append({"title": f"list n{seed}c{j} {rng.choice(vocab)}",
                        "paras": _doc_body(rng, 200, punct=False), "kind": "c4"})
    all_docs = [dict(d, kind="base") for d in docs] + planted
    order = list(range(len(all_docs)))
    random.Random(0).shuffle(order)
    for d in all_docs:
        text = d["title"] + "\n" + "\n".join(d["paras"])
        if (d["kind"] == "c4") != (_c4_good_lines(text) < 3):
            raise RuntimeError("generated document breaks its C4 construction")
    rows = []
    for doc_id, k in enumerate(order):
        d = all_docs[k]
        rows.append({
            "doc_id": doc_id,
            "url": f"https://corpus.example.org/doc/{doc_id}/",
            "html": _corpus_html(d["title"], d["paras"]),
            "kind": d["kind"],
            "group": d.get("group"),
            "text": d["title"] + "\n" + "\n".join(d["paras"]),
        })
    counts = {"gopher": CORPUS_GOPHER_REJECTS, "c4": CORPUS_C4_REJECTS,
              "exact_dup": CORPUS_EXACT_DUPS, "near_dup": CORPUS_NEAR_DUPS}
    return rows, counts


def max_unrelated_trigram_jaccard(rows: list[dict]) -> float:
    """Largest word-trigram Jaccard between documents not planted as
    duplicates of each other: the by-construction guarantee that the only
    near-duplicates are the planted ones."""
    grams = []
    for r in rows:
        w = r["text"].split()
        grams.append({" ".join(w[i:i + 3]) for i in range(len(w) - 2)})
    index: dict[str, list[int]] = {}
    for i, g in enumerate(grams):
        for t in g:
            index.setdefault(t, []).append(i)
    shared: dict[tuple[int, int], int] = {}
    for ids in index.values():
        if len(ids) > 1:
            for a in range(len(ids)):
                for b in range(a + 1, len(ids)):
                    shared[(ids[a], ids[b])] = shared.get((ids[a], ids[b]), 0) + 1
    worst = 0.0
    for (a, b), c in shared.items():
        if rows[a]["group"] is not None and rows[a]["group"] == rows[b]["group"]:
            continue  # a planted pair
        worst = max(worst, c / (len(grams[a]) + len(grams[b]) - c))
    return worst


def gen_corpus_build(seed: int, out: Path) -> dict:
    from wpextract_spark.sources.warcgen import build_warc

    rows, rejects = corpus_documents(seed)
    worst = max_unrelated_trigram_jaccard(rows)
    if worst >= 0.025:
        raise RuntimeError(f"unplanned near-duplicate in generated corpus (jaccard {worst:.3f})")
    warc_dir = out / "warc"
    warc_dir.mkdir()
    for f in range(CORPUS_WARC_FILES):
        part = rows[f::CORPUS_WARC_FILES]
        name = f"corpus-{f:02d}.warc.gz"
        (warc_dir / name).write_bytes(build_warc(part, filename=name))
    # The same documents as a pages table: read only by the traced run's
    # probes, never by the timed command.
    _write_pages(out / "pages.parquet", [r["url"] for r in rows], [r["html"] for r in rows])
    n = len(rows)
    kept = n - sum(rejects.values())
    return {
        "n_docs": n,
        "html_bytes": sum(len(r["html"]) for r in rows),
        "rejects": rejects,
        # Exact copies are near-duplicates too: the verified pairs.
        "dup_pairs": CORPUS_EXACT_DUPS + CORPUS_NEAR_DUPS,
        "kept": kept,
        "seq_len": CORPUS_SEQ_LEN,
        "seqs_per_shard": CORPUS_SEQS_PER_SHARD,
        "max_unrelated_jaccard": worst,
    }


# -- refresh --------------------------------------------------------------------


def refresh_crawls(seed: int):
    """(crawl_a, crawl_b, statuses): url/html lists and the planted status
    of every url of the union."""
    from wpextract_spark.sources.synth import synth_page

    n = REFRESH_PAGES
    rng = _rng(seed, "refresh")
    a = [synth_page(i, seed=seed) for i in range(n)]
    ids = list(range(n))
    rng.shuffle(ids)
    n_changed, n_removed = int(n * REFRESH_CHANGED), int(n * REFRESH_REMOVED)
    changed = set(ids[:n_changed])
    removed = set(ids[n_changed:n_changed + n_removed])
    status = {}
    b_urls, b_html = [], []
    for i, row in enumerate(a):
        if i in removed:
            status[row["url"]] = "removed"
            continue
        html = row["html"]
        if i in changed:
            html = html.replace(b"</main>", f"<p>revised {i} {seed}</p></main>".encode())
            status[row["url"]] = "changed"
        else:
            status[row["url"]] = "unchanged"
        b_urls.append(row["url"])
        b_html.append(html)
    for i in range(n, n + int(n * REFRESH_ADDED)):
        row = synth_page(i, seed=seed)
        status[row["url"]] = "added"
        b_urls.append(row["url"])
        b_html.append(row["html"])
    order = list(range(len(b_urls)))
    rng.shuffle(order)
    crawl_b = ([b_urls[i] for i in order], [b_html[i] for i in order])
    crawl_a = ([r["url"] for r in a], [r["html"] for r in a])
    return crawl_a, crawl_b, status


def gen_refresh(seed: int, out: Path) -> dict:
    crawl_a, crawl_b, status = refresh_crawls(seed)
    _write_pages(out / "crawl_a.parquet", *crawl_a)
    _write_pages(out / "crawl_b.parquet", *crawl_b)
    by_status: dict[str, int] = {}
    for s in status.values():
        by_status[s] = by_status.get(s, 0) + 1
    return {
        "n_docs": len(crawl_b[0]),
        "html_bytes": sum(len(h) for h in crawl_b[1]),
        "by_status": by_status,
        "stale": sorted(u for u, s in status.items() if s in ("added", "changed")),
    }


GENERATORS = {
    "extract-bulk": gen_extract_bulk,
    "corpus-build": gen_corpus_build,
    "refresh": gen_refresh,
}


@functools.cache
def source_digest() -> str:
    """Digest of the package's source files and of this module."""
    h = hashlib.sha256()
    for path in [*sorted((ROOT / "wpextract_spark").rglob("*.py")), Path(__file__).resolve()]:
        h.update(path.relative_to(ROOT).as_posix().encode() + b"\0" + path.read_bytes())
    return h.hexdigest()[:12]


def generate(workload: str, seed: int, root: Path = CACHE) -> tuple[Path, dict]:
    """Write (or reuse) the inputs of ``workload`` for ``seed``; returns the
    input directory and its manifest."""
    out = root / f"{workload}-s{seed}-{SIZES[workload]}-{source_digest()}"
    manifest = out / "manifest.json"
    if manifest.exists():
        return out, json.loads(manifest.read_text())
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    facts = GENERATORS[workload](seed, tmp)
    (tmp / "manifest.json").write_text(json.dumps(facts, sort_keys=True))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, facts
