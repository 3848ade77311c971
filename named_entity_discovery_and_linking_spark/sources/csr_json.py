"""CSR JSON ingestion (E3 input surface, linking.py:480-531).

A CSR file is one JSON object with a ``frames`` array mixing frame types;
the linker consumes three families:

  - coref clusters: @type == 'relation_evidence' with
    interp.type == 'aida:entity_coreference'; members = interp.args[].arg
    (linking.py:496-501)
  - sentences: @type == 'sentence' -> provenance.text keyed by @id
    (linking.py:505-509, en route only)
  - entity frames: @type == 'entity_evidence'; NAMED only
    (interp.form == 'named', F10); text = label (img route) or
    provenance.text; type = interp.type (list -> first value); context
    sentence via provenance.reference; optional interp.fringe (ru/uk
    romanized form) (linking.py:515-531)

Spark shape: whole-file text scan -> one mapInPandas parse (Arrow-batched,
one Python pass per file — files are the natural parallel unit, exactly the
reference's per-file loop distributed).  Explicit output schemas; no JSON
schema inference jobs.
"""

from __future__ import annotations

import json
import os
from typing import Iterator
from urllib.parse import unquote

import pandas as pd

from ..session import local_frame

ENTITY_SCHEMA = (
    "doc string, frame_id string, text string, label string, enttype string, "
    "sent_ref string, fringe string, form string"
)
SENTENCE_SCHEMA = "doc string, sent_id string, sent_text string"
CLUSTER_SCHEMA = "doc string, cluster_id string, member string"


def _parse_csr(doc_name: str, payload: str):
    """One CSR file -> (entity_rows, sentence_rows, cluster_rows)."""
    frames = json.loads(payload).get("frames", [])
    ents, sents, clus = [], [], []
    for frame in frames:
        ftype = frame.get("@type")
        interp = frame.get("interp", {}) or {}
        if ftype == "relation_evidence" and interp.get("type") == "aida:entity_coreference":
            for arg in interp.get("args", []):
                clus.append((doc_name, frame.get("@id", ""), arg.get("arg", "")))
        elif ftype == "sentence":
            sents.append((doc_name, frame.get("@id", ""),
                          (frame.get("provenance") or {}).get("text", "")))
        elif ftype == "entity_evidence":
            enttype = interp.get("type")
            if isinstance(enttype, list):  # linking.py:526-528
                enttype = enttype[0].get("value") if enttype else None
            prov = frame.get("provenance") or {}
            ents.append((
                doc_name,
                frame.get("@id", ""),
                prov.get("text"),
                frame.get("label"),
                enttype,
                prov.get("reference"),
                interp.get("fringe"),
                interp.get("form"),
            ))
    return ents, sents, clus


def read_csr_dir(spark, in_dir: str):
    """Scan ``in_dir/*.csr.json`` -> (entities, sentences, clusters)
    DataFrames.  Suffix filter mirrors linking.py:488-489."""
    paths = [
        os.path.join(in_dir, f) for f in sorted(os.listdir(in_dir))
        if f.endswith(".csr.json")
    ]
    if not paths:  # spark.read.text([]) raises; an empty corpus is not an error
        empty = lambda s: local_frame(spark, [], s)  # noqa: E731
        return empty(ENTITY_SCHEMA), empty(SENTENCE_SCHEMA), empty(CLUSTER_SCHEMA)
    raw = spark.read.text(paths, wholetext=True).selectExpr(
        "input_file_name() AS path", "value"
    )

    def parse(which: int, schema: str):
        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cols = [c.split(" ")[0] for c in schema.split(", ")]
            for pdf in batches:
                rows = []
                for path, payload in zip(pdf["path"], pdf["value"]):
                    # input_file_name() returns a URI — unquote it so docs
                    # with spaces/special chars ('my doc.csr.json' arrives
                    # as 'my%20doc.csr.json') still match the real listdir
                    # basenames the sinks join against (plans/csr.py)
                    doc = os.path.basename(unquote(path))
                    rows.extend(_parse_csr(doc, payload)[which])
                yield pd.DataFrame(rows, columns=cols)

        return raw.mapInPandas(run, schema=schema)

    return (
        parse(0, ENTITY_SCHEMA),
        parse(1, SENTENCE_SCHEMA),
        parse(2, CLUSTER_SCHEMA),
    )


def append_xrefs_to_csr(in_path: str, out_path: str, xrefs_by_frame: dict,
                        in_fs=None, out_fs=None) -> None:
    """SNK3 (linking.py:557-574, 699-700): rewrite one CSR file with xref
    db_reference records appended to each linked entity frame's interp;
    prior xianyang xrefs stripped (F8, linking.py:560-563); skipped when a
    refkb xref from another component exists.  utf-8, sorted keys, indent 1
    — byte-format parity with the reference's writer.

    ``in_fs``/``out_fs`` are sources.fs filesystem objects (default: the
    local shared FS) so the distributed sink works against any registered
    scheme."""
    from .fs import LocalFS

    in_fs = in_fs or LocalFS()
    out_fs = out_fs or LocalFS()
    with in_fs.open(in_path, encoding="utf-8") as f:
        doc = json.load(f)
    for frame in doc.get("frames", []):
        if frame.get("@type") != "entity_evidence":
            continue
        recs = xrefs_by_frame.get(frame.get("@id"))
        if not recs:
            continue
        interp = frame.setdefault("interp", {})
        xref = [
            x for x in interp.get("xref", [])
            if x.get("component") != "opera.entities.edl.refkb.xianyang"
        ]
        if any(
            str(x.get("id", "")).startswith("refkb:")
            and x.get("component") != "opera.entities.edl.refkb.xianyang"
            for x in xref
        ):
            interp["xref"] = xref
            continue
        interp["xref"] = xref + recs
    with out_fs.open(out_path, "w", encoding="utf-8") as f:
        f.write(json.dumps(doc, indent=1, sort_keys=True, ensure_ascii=False))


__all__ = [
    "read_csr_dir",
    "append_xrefs_to_csr",
    "ENTITY_SCHEMA",
    "SENTENCE_SCHEMA",
    "CLUSTER_SCHEMA",
]
