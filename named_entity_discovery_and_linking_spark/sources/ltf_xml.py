"""SRC1: LDC LTF XML ingestion -> the pages-table contract.

``read_ltf`` is a faithful port of the reference's reader + document-string
reconstruction (document.py:178-205 ``read_ltf_offset`` without the CoreNLP
leg, and document.py:50-70 ``Sentence.get_original_doc``):

  - skip non-'eng' docs (F1, document.py:187-191)
  - truncate at char offset > 10000 or 200 sentences (W6, document.py:203-204)
  - doc string: sents[0].begin leading dots; overlap REWIND when a sentence
    begins at or before the previous end (document.py:57-58); one '\\n' per
    missing char between sentences; intra-sentence gaps padded with spaces
    (document.py:40-48); '%20' -> '___'; ';' appended after alnum-final
    sentences (offset advances with it)

The output row is the BASELINE.json input_hint shape
(url, warc_ts, html, text, lang), so the whole KG pipeline runs on LDC
corpora unchanged: ``discover_mentions(ltf_dir_to_pages(spark, dir))``.
``ltf_dir_to_pages`` parallelizes the parse over files (one task per file
batch — the reference's sequential per-file loop, distributed).
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..session import local_frame

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
MAX_CHAR = 10000  # document.py:203-204
MAX_SENTS = 200


def _original_string(words: list) -> str:
    """Sentence.get_original_string (document.py:40-48): words joined with
    (begin - prev_end - 1) spaces."""
    out = []
    offset = words[0][1]
    for text, begin, end in words:
        out.append(" " * (begin - offset - 1))
        out.append(text)
        offset = end
    return "".join(out)


def _original_doc(sents: list) -> str:
    """Sentence.get_original_doc (document.py:50-70), offsets 1-based
    inclusive as in LTF."""
    doc = "." * sents[0][0]
    offset = sents[0][0] - 1
    for begin, end, words in sents:
        if begin <= offset:
            doc = doc[: begin - offset - 1]  # overlap rewind (document.py:57-58)
        doc += "\n" * (begin - offset - 1)
        sent_str = _original_string(words)
        if "%20" in sent_str:
            sent_str = sent_str.replace("%20", "___")
        doc += sent_str
        offset = end
        if sent_str and sent_str[-1].isalnum():
            doc += ";"
            offset += 1
    return doc


def read_ltf(path: str):
    """One LTF file -> (doc_string, lang) or (None, lang) for non-eng /
    empty docs.  Reference: read_ltf_offset (document.py:178-205)."""
    root = ET.parse(path).getroot()
    lang = root.attrib.get("lang", "")
    if lang != "eng":
        return None, lang
    sents = []
    for seg in root[0][0]:
        begin = int(seg.attrib["start_char"])
        end = int(seg.attrib["end_char"])
        words = []
        for tok in seg.findall("TOKEN"):
            if not tok.text:
                # an empty TOKEN whose offsets still advance would corrupt
                # the overlap-rewind in _original_doc (the slice assumes
                # len(doc) tracks the offsets); the reference crashes on
                # word.word=None and its per-doc try/except skips the file
                # (main.py:66-72) — raise so our per-file handler does too
                raise ValueError(f"empty TOKEN text at {tok.attrib}")
            words.append((tok.text, int(tok.attrib["start_char"]),
                          int(tok.attrib["end_char"])))
        if not words:
            continue
        sents.append((begin, end, words))
        if words[-1][2] > MAX_CHAR or len(sents) >= MAX_SENTS:
            break  # W6 truncation
    if not sents:
        return None, lang
    return _original_doc(sents), lang


def ltf_dir_to_pages(spark, in_dir: str, suffix: str = ".ltf.xml") -> DataFrame:
    """Scan ``in_dir`` for LTF files (suffix filter = SRC4, main.py:338-342)
    and parse them into the pages table.  url = file name (the reference's
    doc id, main.py:281); non-eng docs keep their row with text=None and
    their real lang so the F1 gate filters them exactly like the reference's
    early return."""
    paths = sorted(
        os.path.join(in_dir, f) for f in os.listdir(in_dir) if f.endswith(suffix)
    )
    pdf = local_frame(spark, [(p,) for p in paths], "path string").repartition(
        max(1, min(len(paths), spark.sparkContext.defaultParallelism))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for p in b["path"]:
                try:
                    doc, lang = read_ltf(p)
                except Exception:
                    # malformed LTF (truncated XML, missing children,
                    # non-integer offsets, empty tokens): the reference
                    # catches per-document and skips (main.py:66-72) —
                    # one bad file must not abort a corpus-scale job
                    continue
                rows.append((os.path.basename(p), None, None, doc,
                             lang if lang else "und"))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return pdf.mapInPandas(run, schema=PAGES_SCHEMA)
