"""Seeded, cached input generation for the benchmark.

Every input is a pure function of (workload, size, seed). It is built once
under ``<checkout>/.perfbench_work/inputs/<key>/`` and reused by later runs with
the same key; a ``.complete`` marker written last makes a half-built entry
invisible. The engine only ever receives the generated files.

Documents come from the engine's own deterministic fixture generator
(``fixtures.make_document``). Its doc_ids collide at a few percent (invoice
numbers repeat), so every generator renames collisions with a ``~k``
suffix: an N-document input really holds N distinct documents, and the
correctness gates can key on doc_id.
"""

from __future__ import annotations

import os
import shutil
import time

# raw container forms; each is also its file extension
RAW_FORMS = ("pdf", "html", "docx", "xlsx", "odt", "ods", "mht", "rtf", "pptx")
KEEP_PER_WORKLOAD = 6  # cache entries kept per workload (newest first)


def uniq_name(doc_id: str, seen: dict[str, int]) -> str:
    k = seen.get(doc_id, 0)
    seen[doc_id] = k + 1
    if k == 0:
        return doc_id
    stem, dot, ext = doc_id.rpartition(".")
    return f"{stem}~{k}.{ext}" if dot else f"{doc_id}~{k}"


def make_docs(n: int, seed: int, first: int = 0) -> list[dict]:
    """n fixture documents with distinct doc_ids."""
    from pdf_extractor_scripts_spark.fixtures import make_document

    seen: dict[str, int] = {}
    docs = []
    for i in range(first, first + n):
        d = make_document(i, seed)
        docs.append({"doc_id": uniq_name(d["doc_id"], seen), "spans": d["spans"]})
    return docs


class InputCache:
    """Directory cache keyed by (workload, size, seed)."""

    def __init__(self, work_dir: str):
        self.root = os.path.join(work_dir, "inputs")
        self.gen_s = 0.0  # wall spent generating in this process

    def get(self, workload: str, size: str, seed: int, build) -> str:
        path = os.path.join(self.root, f"{workload}-{size}-s{seed}")
        marker = os.path.join(path, ".complete")
        if os.path.exists(marker):
            os.utime(marker)
            return path
        t0 = time.perf_counter()
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        with open(marker, "w") as f:
            f.write("ok")
        self.gen_s += time.perf_counter() - t0
        self._evict(workload)
        return path

    def _evict(self, workload: str) -> None:
        entries = []
        for name in os.listdir(self.root):
            marker = os.path.join(self.root, name, ".complete")
            if name.startswith(workload + "-") and os.path.exists(marker):
                entries.append((os.path.getmtime(marker), name))
        for _, name in sorted(entries, reverse=True)[KEEP_PER_WORKLOAD:]:
            shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)


# ---------------------------------------------------------------- spans --

def write_doc_parquet(docs: list[dict], path: str) -> None:
    """One parquet file in the engine's DOC_SCHEMA layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("media_ref", pa.string(), False),
        pa.field("offset", pa.int32(), False),
    ])
    schema = pa.schema([
        pa.field("doc_id", pa.string(), False),
        pa.field("spans", pa.list_(pa.field("element", span_t, False)), False),
    ])
    table = pa.table(
        {"doc_id": [d["doc_id"] for d in docs],
         "spans": [d["spans"] for d in docs]},
        schema=schema,
    )
    pq.write_table(table, path)


def build_spans_corpus(spark, path: str, docs: list[dict]) -> None:
    """The batch CLI's input: a bucketed spans table written once with
    ``sources.spans.write_spans``."""
    from pdf_extractor_scripts_spark.sources.spans import write_spans

    os.makedirs(path, exist_ok=True)
    flat = os.path.join(path, "flat.parquet")
    write_doc_parquet(docs, flat)
    write_spans(spark.read.parquet(flat), os.path.join(path, "corpus"))
    os.remove(flat)


def build_landing(path: str, docs: list[dict], per_file: int) -> None:
    """Stream landing directory: one parquet file per ``per_file`` docs,
    named and time-stamped in arrival order."""
    land = os.path.join(path, "landing")
    os.makedirs(land)
    for k in range(0, len(docs), per_file):
        f = os.path.join(land, f"part-{k // per_file:05d}.parquet")
        write_doc_parquet(docs[k:k + per_file], f)
        os.utime(f, (1_700_000_000 + k, 1_700_000_000 + k))


# ------------------------------------------------------------- raw tree --

def _paras(d: dict) -> list[str]:
    return [s["text"] for s in d["spans"]
            if s["kind"] == "text" and s["text"].strip()]


def render(d: dict, form: str, i: int) -> tuple[str, bytes]:
    """(relative path, file bytes) of one fixture document in ``form``."""
    from pdf_extractor_scripts_spark.sources.docxparse import build_docx
    from pdf_extractor_scripts_spark.sources.htmlparse import build_html
    from pdf_extractor_scripts_spark.sources.mimeparse import build_mhtml
    from pdf_extractor_scripts_spark.sources.odtparse import build_ods, build_odt
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf
    from pdf_extractor_scripts_spark.sources.pptxparse import build_pptx
    from pdf_extractor_scripts_spark.sources.rtfparse import build_rtf
    from pdf_extractor_scripts_spark.sources.xlsxparse import build_xlsx

    stem = d["doc_id"].rsplit(".", 1)[0]
    if form == "pdf":
        # both xref layouts: classic table and 1.5 cross-reference stream
        return d["doc_id"], spans_to_pdf(d["spans"], xref_stream=i % 2 == 0)
    paras = _paras(d)
    if form == "html":
        return stem + ".html", build_html(
            paras, title=d["doc_id"], images={0: f"img://{d['doc_id']}/fig0"})
    if form == "docx":
        return stem + ".docx", build_docx(paras)
    if form == "xlsx":
        return stem + ".xlsx", build_xlsx({"Sheet1": [[p] for p in paras]})
    if form == "odt":
        return stem + ".odt", build_odt(paras)
    if form == "ods":
        return stem + ".ods", build_ods({"Sheet1": [[p] for p in paras]})
    if form == "mht":
        return stem + ".mht", build_mhtml(
            html=build_html(paras, title=d["doc_id"]).decode())
    if form == "rtf":
        return stem + ".rtf", build_rtf(paras)
    if form == "pptx":
        return stem + ".pptx", build_pptx([{"title": d["doc_id"], "bullets": paras}])
    raise ValueError(form)


def build_raw_tree(path: str, docs: list[dict]) -> str:
    """Write the docs as raw files under ``path/tree``, cycling through the
    nine container forms; returns the tree's root. File names are made
    unique like doc_ids."""
    tree = os.path.join(path, "tree")
    seen: dict[str, int] = {}
    for i, d in enumerate(docs):
        rel, data = render(d, RAW_FORMS[i % len(RAW_FORMS)], i)
        full = os.path.join(tree, uniq_name(rel, seen))
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(data)
    return tree
