"""Seeded workload inputs.

Every input is a pure function of (workload, seed, size).  The program
under test only ever sees the parquet files written here; the oracle
check reads the same files back with pyarrow.

Inputs are split into `cores` parquet files of similar size (greedy
largest-first packing by span count), so the scan runs as one task per
core instead of one task over a single split.
"""

from __future__ import annotations

import os
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

from mimeograph_spark.operators.hocr import BAD_SUFFIX
from mimeograph_spark.plans.pipeline import DEFAULT_PAGE_THRESHOLD
from mimeograph_spark.schema import KIND_MEDIA, KIND_TEXT

# Vocabulary of the flat sf0.1 `documents` table's text column.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark str stream "
    "table value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de", "ja", "ru", "pt")

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))]
)

# Docs per workload at size "full" (size "tiny" divides docs and
# replicas by TINY_DIV).  sf01_resume is the smallest size where per-doc
# work, not the operation's fixed job and worker cost, is most of one
# operation; scanned_megapage is as large as the run schedule holds
# (measured split in perfbench/README.md).
FULL = {
    "sf01_resume": {"flat_docs": 5000, "replicas": 40},
    "born_digital": {"docs": 12000},
    "scanned_megapage": {"docs": 1200, "mega_docs": 5},
}
TINY_DIV = 20
# sf01_resume: docs whose flat id is a multiple of this are committed
# before the timed repetitions (the resume anti-join drops them).
COMMITTED_EVERY = 4


def flat_sf01(seed: int, n_docs: int) -> pa.Table:
    """A flat table shaped like sf0.1 `documents` (doc_id, text, lang,
    source, n_chars): 10-100 words per doc from the same vocabulary."""
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))
        for _ in range(n_docs)
    ]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


class _DocBuilder:
    """Accumulates documents as flat span columns (fast pyarrow build)."""

    def __init__(self) -> None:
        self.docs: list[tuple[str, list[tuple]]] = []

    def add(self, doc_id: str, spans: list[tuple], rng: random.Random) -> None:
        rng.shuffle(spans)  # stored order != offset order: the sort works
        self.docs.append((doc_id, spans))

    def table(self, docs: list[tuple[str, list[tuple]]]) -> pa.Table:
        kinds, texts, refs, offs, bounds = [], [], [], [], [0]
        for _, spans in docs:
            for k, t, r, o in spans:
                kinds.append(k)
                texts.append(t)
                refs.append(r)
                offs.append(o)
            bounds.append(len(kinds))
        values = pa.StructArray.from_arrays(
            [
                pa.array(kinds, pa.string()),
                pa.array(texts, pa.string()),
                pa.array(refs, pa.string()),
                pa.array(offs, pa.int32()),
            ],
            fields=list(SPAN_TYPE),
        )
        spans = pa.ListArray.from_arrays(pa.array(bounds, pa.int32()), values)
        return pa.Table.from_arrays(
            [pa.array([d for d, _ in docs], pa.string()), spans.cast(pa.list_(SPAN_TYPE))],
            schema=DOCS_SCHEMA,
        )


def born_digital(seed: int, n_docs: int) -> _DocBuilder:
    """Native-text docs with 20-60 interleaved spans (every third a
    figure); 1 doc in 100 is a small scan (<= 8 pages) so the OCR path
    carries a trickle of pages instead of none."""
    rng = random.Random(seed)
    b = _DocBuilder()
    for d in range(n_docs):
        did = f"bd{d:08d}"
        if d % 100 == 99:
            spans = [
                (KIND_MEDIA, None, f"pg:{did}:{i}", i)
                for i in range(rng.randint(1, 8))
            ]
        else:
            spans = [
                (KIND_MEDIA, None, f"fig:{did}:{i}", i)
                if i % 3 == 2
                else (KIND_TEXT, " ".join(rng.choices(VOCAB, k=rng.randint(1, 6))), None, i)
                for i in range(rng.randint(20, 60))
            ]
        b.add(did, spans, rng)
    return b


def scanned_megapage(seed: int, n_docs: int, mega_docs: int) -> _DocBuilder:
    """Scans without native text: `n_docs` docs of about 10-300 pages plus
    `mega_docs` docs of uneven size above the page threshold that
    together carry about as many pages as all the others.  About 6% of
    pages are bad (page errors); one small doc in 50 is all bad."""
    rng = random.Random(seed)
    b = _DocBuilder()

    def pages(did: str, n: int, bad_p: float) -> list[tuple]:
        return [
            (KIND_MEDIA, None, f"pg:{did}:{i}" + (BAD_SUFFIX if rng.random() < bad_p else ""), i)
            for i in range(n)
        ]

    # Sizes are drawn, then scaled to a fixed total (155 pages a doc), so
    # every seed gives the same amount of work.
    drawn = [rng.randint(10, 300) for _ in range(n_docs)]
    scale = 155 * n_docs / sum(drawn)
    sizes = [max(1, round(n * scale)) for n in drawn]
    for d, n in enumerate(sizes):
        did = f"sm{d:08d}"
        b.add(did, pages(did, n, 1.0 if d % 50 == 49 else 0.06), rng)
    # uneven mega sizes: weights 1..mega_docs, total ~= sum(sizes)
    weights = [i + 1 for i in range(mega_docs)]
    total = sum(sizes)
    for m, w in enumerate(weights):
        n = max(DEFAULT_PAGE_THRESHOLD + 1, total * w // sum(weights))
        did = f"mg{m:08d}"
        b.add(did, pages(did, n, 0.06), rng)
    return b


def write_split(b: _DocBuilder, out_dir: str, n_files: int) -> None:
    """Largest-first greedy packing of docs into `n_files` files of
    similar span count."""
    os.makedirs(out_dir, exist_ok=True)
    bins: list[list] = [[] for _ in range(n_files)]
    load = [0] * n_files
    for doc in sorted(b.docs, key=lambda d: -len(d[1])):
        i = load.index(min(load))
        bins[i].append(doc)
        load[i] += len(doc[1]) + 1
    for i, docs in enumerate(bins):
        docs.sort(key=lambda d: d[0])
        pq.write_table(b.table(docs), os.path.join(out_dir, f"part-{i:05d}.parquet"))


def read_docs(in_dir: str) -> list[dict]:
    """The written input, as oracle rows {doc_id, spans}.  Built from
    the flattened span columns through numpy: `to_pylist` on the nested
    column costs about 15 us a span."""
    t = pq.read_table(in_dir, schema=DOCS_SCHEMA)
    spans = t["spans"].combine_chunks()
    bounds = spans.offsets.to_pylist()
    flat = spans.flatten()
    keys = [f.name for f in SPAN_TYPE]
    values = list(zip(*(flat.field(k).to_numpy(zero_copy_only=False).tolist() for k in keys)))
    first = bounds[0]
    return [
        {"doc_id": d, "spans": [dict(zip(keys, v)) for v in values[a - first : b - first]]}
        for d, a, b in zip(t["doc_id"].to_pylist(), bounds, bounds[1:])
    ]


def describe(rows: list[dict], in_dir: str, replicas: int = 1) -> dict:
    """Measured properties of a workload's input: `rows`, each repeated
    `replicas` times, written to `in_dir`."""
    n_media, native = [], 0
    bad = routed = mega = mega_pages = 0
    for r in rows:
        spans = r["spans"]
        media = [s for s in spans if s["kind"] == KIND_MEDIA]
        is_native = any(
            s["kind"] == KIND_TEXT and (s["text"] or "").strip() for s in spans
        )
        native += is_native
        n_media.append(len(media))
        if not is_native:
            routed += len(media)
            bad += sum(s["media_ref"].endswith(BAD_SUFFIX) for s in media)
            if len(media) > DEFAULT_PAGE_THRESHOLD:
                mega += 1
                mega_pages += len(media)
    files = [f for f in os.listdir(in_dir) if f.endswith(".parquet")]
    q = statistics.quantiles(n_media, n=20) if len(n_media) > 1 else [0] * 19
    return {
        "docs": len(rows) * replicas,
        "distinct_docs": len(rows),
        "native_share": round(native / max(len(rows), 1), 4),
        "pages_per_doc": {
            "p5": q[0], "p50": q[9], "p95": q[18], "max": max(n_media, default=0)
        },
        "ocr_pages": routed * replicas,
        "mega_docs": mega * replicas,
        "mega_page_share": round(mega_pages / max(routed, 1), 4),
        "bad_page_share": round(bad / max(routed, 1), 4),
        "input_bytes": sum(
            os.path.getsize(os.path.join(in_dir, f)) for f in files
        ),
        "input_files": len(files),
    }
