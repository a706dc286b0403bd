"""Seeded workload generator for the extraction benchmark.

Each workload is a pure function of ``(name, seed)``: the same seed writes the
same ``documents_spans.parquet/`` and ``media_payloads.parquet/`` directories,
each split into many small files so the Spark scan splits without a
repartition. Corpora are cached on disk by ``(workload, seed, GEN_VERSION)``.

Work per corpus is held constant across seeds: the multiset of span counts,
the number of media spans and the mix of page kinds are fixed, and the seed
only permutes and re-draws content. Run-to-run spread across seeds is then
dominated by the engine, not by the input.

Every corpus also carries edge rows that the oracle gate always samples:
duplicate doc_ids (last ingest wins), ``skip_checks`` bypass rows, media
spans with no payload row, corrupt (truncated) PNG payloads and zero-span
documents.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from document_quality_assessment_ocr_spark import png
from document_quality_assessment_ocr_spark.sources import fixtures as fx

#: bump when the generated bytes change for a given (workload, seed)
GEN_VERSION = 1

#: distinct corpora kept in the cache; older ones are evicted
CACHE_KEEP = 6

PAGE_W, PAGE_H = 512, 640

#: workload shapes (counts are exact for every seed)
SHAPES = {
    # short docs, ~40% media, every media span its own distinct page
    "media_unique": {"n_docs": 200, "spans_lo": 3, "spans_hi": 7, "media_share": 0.4,
                     "span_files": 8, "payload_files": 32},
    # capped-Zipf span counts, ~85% text, media from the shared catalog
    "text_skewed": {"n_docs": 4000, "zipf_cap": 3000, "zipf_s": 0.9, "base_lo": 4,
                    "base_hi": 48, "media_share": 0.15, "span_files": 8, "payload_files": 4},
}

#: clean/bad page recipes for media_unique, with their fixed share of pages
_PAGE_KINDS = [
    ("clean", 0.62), ("clean_small_glyph", 0.08), ("est_dpi", 0.06), ("blur", 0.05),
    ("skew", 0.05), ("watermark", 0.04), ("dark", 0.03), ("blank", 0.03),
    ("noise", 0.02), ("tiny_glyph", 0.02),
]

_WORKLOAD_IDS = {name: i for i, name in enumerate(SHAPES)}

SPANS_DIR = "documents_spans.parquet"
PAYLOADS_DIR = "media_payloads.parquet"
META = "meta.json"


def corpus_dir(cache_root: str, workload: str, seed: int) -> str:
    """Path of the cached corpus for ``(workload, seed)``, generating it on a
    miss. Generation writes to a temporary directory and renames it, so an
    interrupted run never leaves a half corpus behind."""
    if workload not in SHAPES:
        raise ValueError(f"unknown workload {workload!r}")
    out = os.path.join(cache_root, f"{workload}-s{seed}-v{GEN_VERSION}")
    if os.path.exists(os.path.join(out, META)):
        os.utime(out)
        return out
    os.makedirs(cache_root, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_corpus(tmp, workload, seed)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    _evict(cache_root, keep=out)
    return out


def _evict(cache_root: str, keep: str) -> None:
    entries = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if os.path.exists(os.path.join(cache_root, d, META))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for path in entries[CACHE_KEEP:]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# span recipes
# ---------------------------------------------------------------------------


def _text_pool(rng: np.random.Generator, n: int) -> list[str]:
    """Text span bodies in the fixture mix: 70% body prose (kept), 15% sparse
    padding, 10% dense glyph runs (both dropped by the density band), 5%
    empty."""
    pool = []
    for _ in range(n):
        r = rng.random()
        if r < 0.70:
            pool.append(fx.body_text(rng))
        elif r < 0.85:
            pool.append(fx.sparse_text(rng))
        elif r < 0.95:
            pool.append(fx.dense_text(rng))
        else:
            pool.append("")
    return pool


def _spans(rng, recipe: list[tuple[str, str, str]]) -> list[dict]:
    """``(kind, text, media_ref)`` recipe -> span structs with strictly
    increasing gapped offsets, stored shuffled (the pipeline must sort them)."""
    offsets = np.cumsum(rng.integers(1, 50, len(recipe)))
    spans = [
        {"kind": k, "text": t, "media_ref": m, "offset": int(o)}
        for (k, t, m), o in zip(recipe, offsets)
    ]
    return [spans[i] for i in rng.permutation(len(spans))]


def _exact_kinds(rng, total: int, media_share: float) -> np.ndarray:
    """Exactly ``round(total * media_share)`` media positions, seeded."""
    is_media = np.zeros(total, dtype=bool)
    is_media[: int(round(total * media_share))] = True
    return is_media[rng.permutation(total)]


def _zipf_sizes(rng, n: int, cap: int, s: float, lo: int, hi: int) -> np.ndarray:
    """Capped Zipf span counts: rank r gets max(cap / r**s, base) with a fixed
    base multiset spread over [lo, hi]; only the assignment is seeded."""
    ranks = np.arange(1, n + 1, dtype=np.float64)
    base = lo + (np.arange(n) % (hi - lo + 1))
    sizes = np.maximum(np.floor(cap / ranks**s).astype(np.int64), base)
    return sizes[rng.permutation(n)]


# ---------------------------------------------------------------------------
# payload recipes
# ---------------------------------------------------------------------------


def _base_page(rng: np.random.Generator, kind: str) -> tuple[np.ndarray, int]:
    w, h = PAGE_W, PAGE_H
    if kind == "clean":
        return fx.draw_text_page(rng, w=w, h=h), int(rng.choice([150, 200, 300]))
    if kind == "clean_small_glyph":
        return fx.draw_text_page(rng, w=w, h=h, glyph_h=26, coverage=0.13), 300
    if kind == "est_dpi":
        return fx.draw_text_page(rng, w=w, h=h), 0
    if kind == "blur":
        return fx.gaussian_blur(fx.draw_text_page(rng, w=w, h=h), 5.0), 200
    if kind == "skew":
        rot = fx.rotate_nearest(fx.draw_text_page(rng, w=w, h=h), 4.0)
        return np.ascontiguousarray(rot[:h, :w]), 200
    if kind == "watermark":
        return fx.periodic_dot_comb(h, w, step=16, dot=4), 200
    if kind == "dark":
        return (fx.draw_text_page(rng, w=w, h=h).astype(np.float64) * 0.18).astype(np.uint8), 200
    if kind == "blank":
        return np.full((h, w), 255, dtype=np.uint8), 200
    if kind == "noise":
        return fx.salt_pepper(rng, fx.draw_text_page(rng, w=w, h=h)), 200
    if kind == "tiny_glyph":
        return fx.draw_text_page(rng, w=w, h=h, glyph_h=6, coverage=0.10), 0
    raise ValueError(kind)


def _unique_pages(rng: np.random.Generator, n: int) -> list[tuple[np.ndarray, int]]:
    """``n`` distinct pages: a few base pages per kind, each page a seeded
    cyclic shift of one base (cheap to make, same kernel cost profile)."""
    counts = [int(round(share * n)) for _, share in _PAGE_KINDS]
    counts[0] += n - sum(counts)
    kinds = np.repeat(np.arange(len(_PAGE_KINDS)), counts)[rng.permutation(n)]
    bases = {
        k: [_base_page(rng, _PAGE_KINDS[k][0]) for _ in range(4)]
        for k in range(len(_PAGE_KINDS))
    }
    pages = []
    for k in kinds:
        arr, dpi = bases[k][int(rng.integers(0, 4))]
        dy, dx = int(rng.integers(0, PAGE_H)), int(rng.integers(0, PAGE_W))
        pages.append((np.roll(arr, (dy, dx), axis=(0, 1)), dpi))
    return pages


def _payload_row(ref: str, arr: np.ndarray, dpi: int, data: bytes) -> dict:
    return {"media_ref": ref, "width": int(arr.shape[1]), "height": int(arr.shape[0]),
            "dpi": int(dpi), "png": data}


# ---------------------------------------------------------------------------
# corpora
# ---------------------------------------------------------------------------


def _media_unique(rng, shape):
    n = shape["n_docs"]
    lo, hi = shape["spans_lo"], shape["spans_hi"]
    sizes = (lo + np.arange(n) % (hi - lo + 1))[rng.permutation(n)]
    is_media = _exact_kinds(rng, int(sizes.sum()), shape["media_share"])
    texts = _text_pool(rng, 512)
    pages = _unique_pages(rng, int(is_media.sum()))
    payloads, docs, pos, page_i = [], [], 0, 0
    for i, size in enumerate(sizes):
        recipe = []
        for m in is_media[pos : pos + size]:
            if m:
                ref = f"m{i:06d}_{len(recipe)}"
                arr, dpi = pages[page_i]
                page_i += 1
                payloads.append(_payload_row(ref, arr, dpi, png.encode_gray(arr, dpi=dpi)))
                recipe.append(("media", "", ref))
            else:
                recipe.append(("text", texts[int(rng.integers(0, len(texts)))], ""))
        pos += size
        docs.append((f"d{i:06d}", recipe))
    ok_png = payloads[0]["png"]

    def media_ref_for(tag: str, i: int) -> str:
        ref = f"{tag}{i:06d}"
        arr, dpi = pages[i % len(pages)]
        payloads.append(_payload_row(ref, arr, dpi, png.encode_gray(arr, dpi=dpi)))
        return ref

    def corrupt_ref(i: int) -> str:
        ref = f"corrupt{i:06d}"
        payloads.append({"media_ref": ref, "width": 0, "height": 0, "dpi": 200,
                         "png": ok_png[:100]})
        return ref

    return docs, texts, payloads, media_ref_for, corrupt_ref


def _text_skewed(rng, shape, seed):
    n = shape["n_docs"]
    sizes = _zipf_sizes(rng, n, shape["zipf_cap"], shape["zipf_s"],
                        shape["base_lo"], shape["base_hi"])
    is_media = _exact_kinds(rng, int(sizes.sum()), shape["media_share"])
    texts = _text_pool(rng, 2048)
    catalog = fx.build_payloads(seed=seed, size=(PAGE_W, PAGE_H))
    names = [k for k in catalog if k != "corrupt"]
    ok = [k for k in names if k.startswith("ok_")]
    bad = [k for k in names if not k.startswith("ok_")]
    payloads = [
        _payload_row(k, p["arr"] if p["arr"] is not None else np.zeros((0, 0)), p["dpi"], p["png"])
        for k, p in catalog.items()
    ]
    text_idx = rng.integers(0, len(texts), len(is_media))
    docs, pos = [], 0
    for i, size in enumerate(sizes):
        # 30% of docs may draw one bad page kind, like the fixture corpus
        pool = ok + ([bad[i % len(bad)]] if rng.random() < 0.3 else [])
        recipe = [
            ("media", "", pool[int(rng.integers(0, len(pool)))]) if is_media[j]
            else ("text", texts[text_idx[j]], "")
            for j in range(pos, pos + size)
        ]
        pos += size
        docs.append((f"d{i:06d}", recipe))
    return docs, texts, payloads, (lambda tag, i: ok[i % len(ok)]), (lambda i: "corrupt")


def write_corpus(out_dir: str, workload: str, seed: int) -> dict:
    """Generate and write one corpus; returns its meta (also ``meta.json``)."""
    shape = SHAPES[workload]
    rng = np.random.default_rng([seed, _WORKLOAD_IDS[workload]])
    if workload == "media_unique":
        docs, texts, payloads, media_ref_for, corrupt_ref = _media_unique(rng, shape)
    else:
        docs, texts, payloads, media_ref_for, corrupt_ref = _text_skewed(rng, shape, seed)

    n = len(docs)
    n_edge = max(2, n // 100)
    picks = rng.permutation(n)
    edges: dict[str, list[str]] = {"dup": [], "skip": [], "missing": [], "corrupt": [], "empty": []}
    rows = []
    for i, (doc_id, recipe) in enumerate(docs):
        rows.append({"doc_id": doc_id, "skip_checks": False, "ingest_seq": 2 * i + 1,
                     "spans": _spans(rng, recipe)})
    row_of = {r["doc_id"]: r for r in rows}

    def text():
        return texts[int(rng.integers(0, len(texts)))]

    for k in range(n_edge):
        # older version of an existing doc (lower ingest_seq loses)
        r = row_of[docs[picks[k]][0]]
        rows.append({"doc_id": r["doc_id"], "skip_checks": False, "ingest_seq": r["ingest_seq"] - 1,
                     "spans": _spans(rng, [("media", "", media_ref_for("dup", k)),
                                           ("text", text(), "")])})
        edges["dup"].append(r["doc_id"])
        # bypass: accepted with every span kept, whatever its scores
        r = row_of[docs[picks[n_edge + k]][0]]
        r["skip_checks"] = True
        edges["skip"].append(r["doc_id"])
        # media span with no payload row
        r = row_of[docs[picks[2 * n_edge + k]][0]]
        r["spans"].append({"kind": "media", "text": "", "media_ref": f"missing{k:06d}",
                           "offset": 1_000_000 + k})
        edges["missing"].append(r["doc_id"])
        # truncated PNG payload
        r = row_of[docs[picks[3 * n_edge + k]][0]]
        r["spans"].append({"kind": "media", "text": "", "media_ref": corrupt_ref(k),
                           "offset": 1_000_000 + k})
        edges["corrupt"].append(r["doc_id"])
    for k in range(2):
        doc_id = f"empty{k:03d}"
        rows.append({"doc_id": doc_id, "skip_checks": False, "ingest_seq": 2 * n + 2 * k,
                     "spans": []})
        edges["empty"].append(doc_id)

    rows = [rows[i] for i in rng.permutation(len(rows))]
    spans_dir = os.path.join(out_dir, SPANS_DIR)
    pay_dir = os.path.join(out_dir, PAYLOADS_DIR)
    _write_parts(rows, fx.SPANS_SCHEMA, spans_dir, shape["span_files"])
    _write_parts(payloads, fx.PAYLOADS_SCHEMA, pay_dir, shape["payload_files"])
    n_spans = sum(len(r["spans"]) for r in rows)
    meta = {
        "workload": workload,
        "seed": seed,
        "gen_version": GEN_VERSION,
        "n_rows": len(rows),
        "n_docs": len({r["doc_id"] for r in rows}),
        "n_spans": n_spans,
        "n_payloads": len(payloads),
        "edge_docs": edges,
    }
    with open(os.path.join(out_dir, META), "w") as f:
        json.dump(meta, f, indent=1)
    return meta


def _write_parts(rows: list[dict], schema: pa.Schema, out: str, n_files: int) -> None:
    os.makedirs(out, exist_ok=True)
    n_files = max(1, min(n_files, len(rows)))
    bounds = np.linspace(0, len(rows), n_files + 1).astype(int)
    for k in range(n_files):
        part = rows[bounds[k] : bounds[k + 1]]
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       os.path.join(out, f"part-{k:05d}.parquet"))


def read_meta(dir_: str) -> dict:
    with open(os.path.join(dir_, META)) as f:
        return json.load(f)
