"""E3: CSR linking with coref + per-language routing (linking.py:480-700,
``--run_csr --en|--ru|--uk|--img``).

Route differences (linking.py:504-555):
  en  — context = the referenced sentence's text (IoU disambiguation uses it)
  ru/uk — empty context; if the native form linked AND the frame carries a
          romanized ``fringe`` form, the fringe's link results merge in
          (J10: per-eid confidence sum capped at 1.0, re-ranked)
  img — mention text = the frame label, empty context

NILs are looked up against the temporary KB but never count-promoted
(``link_mentions(promote=False)``); new entities appear only through
cluster election (A3 -> subcomponent 2, score 1.0, linking.py:654-666).
Coref clusters are CONSUMED from the CSR relation_evidence frames —
exactly the reference's consumption contract — and the same A2 vote /
A3 election operators the cross-document canonicalizer uses apply.

Frame-id scoping: the reference processes ONE CSR file at a time, so frame
``@id``s only need to be unique within a file.  This plan processes a whole
directory in one job, so every internal key (mention id, cluster id) is
prefixed with the document name (``doc + '\\x1f' + frame_id``) and the prefix
is stripped when emitting — two files that both use ``e1`` can never merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.canonicalize import cluster_link_vote, elect_best_mention
from ..operators.enrich import merge_fringe_links
from ..operators.linking import link_mentions
from ..session import local_frame

LANGS = ("en", "ru", "uk", "img")
COMPONENT = "opera.entities.edl.refkb.xianyang"
# Driver-collect convenience paths (xref_records, the probe REPL) refuse
# result sets above this — the distributed sinks have no such bound.
DRIVER_COLLECT_CAP = 100_000


def guarded_collect(df: DataFrame, what: str, cap: int = DRIVER_COLLECT_CAP):
    """Collect at most ``cap`` rows; raise if the frame exceeds it.

    The limit is applied BEFORE the collect (``limit(cap+1)``), so the
    driver never materializes more than cap+1 rows even when the guard
    fires — a corpus-scale frame pointed at a convenience path fails fast
    instead of OOMing the driver."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise RuntimeError(
            f"{what} is a driver-collect convenience path and saw more than "
            f"{cap:,} rows; use the distributed sink (run_csr with "
            f"distributed=True) for corpus-scale inputs")
    return rows
# document/frame-id separator: a control char that cannot appear in a CSR
# frame @id or a file basename
_SEP = "\x1f"


def _scoped(doc_col: str, id_col: str):
    return F.concat_ws(_SEP, F.col(doc_col), F.col(id_col))


def _csr_mentions(entities: DataFrame, sentences: DataFrame, lang: str,
                  fringe: bool = False, lenient: bool = False) -> DataFrame:
    """Entity frames -> the mentions shape link_mentions consumes.
    mid = doc-scoped frame id (unique across the whole input directory);
    F10 named-form filter.

    en route: a frame whose ``provenance.reference`` resolves to no sentence
    frame RAISES (the reference does ``sentences[ref]`` — KeyError on
    malformed input, linking.py:532).  Pass ``lenient=True`` to substitute an
    empty context instead."""
    e = entities.filter(F.col("form") == "named")  # F10, linking.py:519-520
    text = F.col("label") if lang == "img" else F.col("text")
    if fringe:
        # linking.py:534-537: fne mention = fringe[1:] (leading marker char)
        e = e.filter(F.col("fringe").isNotNull())
        text = F.expr("substring(fringe, 2)")
    if lang == "en":
        e = e.join(
            sentences.select(
                F.col("doc").alias("s_doc"), F.col("sent_id"), "sent_text"
            ),
            (F.col("doc") == F.col("s_doc")) & (F.col("sent_ref") == F.col("sent_id")),
            "left",
        )
        if lenient:
            ctx = F.coalesce("sent_text", F.lit(""))
        else:
            ctx = F.when(
                F.col("sent_text").isNull(),
                F.raise_error(F.concat(
                    F.lit("CSR sentence reference not found (doc="),
                    F.col("doc"), F.lit(", ref="),
                    F.coalesce(F.col("sent_ref"), F.lit("<null>")), F.lit(")"),
                )),
            ).otherwise(F.col("sent_text"))
    else:
        ctx = F.lit("")  # ru/uk/img query with empty context (linking.py:533,555)
    return e.select(
        F.col("doc").alias("url"),
        _scoped("doc", "frame_id").alias("mid"),
        F.lit("NAM").alias("category"),
        text.alias("mention"),
        F.col("enttype").alias("type"),
        ctx.alias("sent_text"),
    ).filter(F.col("mention").isNotNull())


def link_csr(entities: DataFrame, sentences: DataFrame, clusters: DataFrame,
             kb: DataFrame, aliases: DataFrame, lang: str,
             lenient: bool = False) -> DataFrame:
    """Per-frame xref rows: (doc, frame_id, eid, cname, confidence,
    subcomponent).  Applies the route's linking, the J10 fringe merge
    (ru/uk), then the cluster pass: A2 vote re-links every member of a
    cluster with >=1 linked member; A3 elects + registers for fully-NIL
    clusters (subcomponent 2, score 1.0).

    All joins key on DOC-SCOPED ids — per-file-local frame/cluster ids
    (the reference's one-file-at-a-time contract) cannot collide across a
    directory-sized input."""
    if lang not in LANGS:
        raise ValueError(f"lang must be one of {LANGS}")
    native = link_mentions(
        _csr_mentions(entities, sentences, lang, lenient=lenient), kb, aliases,
        promote=False,
    ).localCheckpoint()
    if lang in ("ru", "uk"):
        fr_mentions = _csr_mentions(entities, sentences, lang, fringe=True,
                                    lenient=lenient)
        # the reference queries the fringe only when the NATIVE form linked
        # (linking.py:538) — and the fringe merge applies to refkb results
        fr_mentions = fr_mentions.join(
            native.filter(F.col("subcomponent") == 0).select("mid").distinct(),
            "mid", "left_semi",
        )
        fringe_links = link_mentions(fr_mentions, kb, aliases, promote=False).filter(
            F.col("subcomponent") == 0
        )
        native = merge_fringe_links(
            native.filter(F.col("subcomponent") == 0), fringe_links
        ).unionByName(
            native.filter(F.col("subcomponent") != 0), allowMissingColumns=True
        )
    top = native.filter(F.col("rank") == 1).select(
        "url", "mid", "eid", "cname", "confidence", "subcomponent",
        F.lit(1).alias("rank"),  # cluster_link_vote filters on rank itself
    ).localCheckpoint()

    # cluster ids are file-local too (fixture style 'c1') — scope both sides
    clu = clusters.select(
        _scoped("doc", "member").alias("mid"),
        _scoped("doc", "cluster_id").alias("cluster_id"),
    )
    # A2 (linking.py:667-690): cluster_link_vote already re-links EVERY
    # member of a cluster with >=1 linked member to the vote winner; the
    # winner's subcomponent follows its KB space (refkb -> 0, tmpkb -> 1)
    voted = cluster_link_vote(clu, top).select(
        "mid", "eid", "cname", "confidence",
        F.when(F.col("eid").startswith("tmpkb:"), 1).otherwise(0).alias("subcomponent"),
    )
    # A3 (linking.py:624-666): fully-NIL clusters elect a best mention ->
    # new tmp entity, subcomponent 2, score 1.0, type-gated
    mention_surface = _csr_mentions(entities, sentences, lang, lenient=lenient).select(
        "mid", "mention", F.substring("type", 8, 3).alias("coarse_type"),
        F.lit("NAM").alias("category"),
    )
    linked_clusters = clu.join(top.select("mid").distinct(), "mid", "left_semi") \
        .select("cluster_id").distinct()
    fully_nil = clu.select("cluster_id").distinct().join(
        linked_clusters, "cluster_id", "left_anti"
    )
    elected = elect_best_mention(
        clu.join(fully_nil, "cluster_id", "left_semi"), mention_surface
    ).filter(
        F.col("coarse_type").isin("GPE", "LOC", "FAC", "PER", "ORG", "VEH", "WEA")
    ).select(
        "cluster_id",
        F.concat(
            F.lit("tmpkb:@"),
            F.substring(F.sha1(F.concat_ws("|", F.lower("best_mention"), "coarse_type")), 1, 12),
        ).alias("e_eid"),
        # raw case: the reference writes 'canonical_name': best_mention
        # as-is (linking.py:665) — only the REGISTERED tmp-KB name (and
        # hence the id) is lowercased
        F.col("best_mention").alias("e_cname"),
    )
    elected_members = clu.join(elected, "cluster_id").select(
        "mid", F.col("e_eid").alias("eid"), F.col("e_cname").alias("cname"),
        F.lit(1.0).alias("confidence"), F.lit(2).alias("subcomponent"),
    )
    # frames outside any cluster keep their direct link
    solo = top.join(clu, "mid", "left_anti").select(
        "mid", "eid", "cname", "confidence", "subcomponent"
    )
    out = voted.unionByName(solo).unionByName(elected_members)
    # the doc-scoped mid carries its own provenance: split, don't re-join
    return out.select(
        F.substring_index("mid", _SEP, 1).alias("doc"),
        F.substring_index("mid", _SEP, -1).alias("frame_id"),
        "eid", "cname", "confidence", "subcomponent",
    )


def _xref_struct():
    return F.struct(
        F.col("frame_id"),
        F.col("eid"), F.col("cname"),
        F.col("confidence"), F.col("subcomponent"),
    )


def _records_from_rows(rows) -> dict:
    """[(frame_id, eid, cname, confidence, subcomponent)] -> {frame_id: [rec]}
    in the reference's record shape (linking.py:564-568)."""
    by_frame: dict = {}
    for r in rows:
        by_frame.setdefault(r["frame_id"], []).append({
            "@type": "db_reference",
            "component": COMPONENT,
            "id": r["eid"],
            "canonical_name": r["cname"],
            "score": r["confidence"],
            "subcomponent": r["subcomponent"],
        })
    return by_frame


def xref_records(linked: DataFrame):
    """Driver-side {doc: {frame_id: [xref dicts]}} — SMALL inputs only (it
    collects the full link set).  The distributed sink (run_csr) groups by
    doc on executors and never collects.  Guarded: refuses frames above
    DRIVER_COLLECT_CAP rows so it cannot be pointed at a corpus."""
    out: dict = {}
    for r in guarded_collect(linked, "xref_records"):
        out.setdefault(r["doc"], {}).setdefault(r["frame_id"], []).append({
            "@type": "db_reference",
            "component": COMPONENT,
            "id": r["eid"],
            "canonical_name": r["cname"],
            "score": r["confidence"],
            "subcomponent": r["subcomponent"],
        })
    return out


def run_csr(spark, in_dir: str, out_dir: str, lang: str, kb=None, aliases=None,
            distributed: bool = True) -> int:
    """The --run_csr CLI equivalent: read in_dir/*.csr.json, link per the
    language route, rewrite each file under out_dir with xref records.

    Default sink is DISTRIBUTED: xrefs are grouped per document on the
    executors and each file is rewritten inside ``foreachPartition`` — the
    driver never sees a link row, so the write scales with executor count,
    not driver memory.  Files with no linked frames are copied through
    verbatim (same as the reference, which rewrites every input file).
    Every path operation goes through sources.fs (scheme-dispatched;
    default = the executor-visible shared FS the reference assumes), so an
    object-store deployment registers its scheme once — the sink is
    unchanged.

    ``distributed=False`` keeps the old driver-side loop for tiny inputs
    (saves the shuffle + task overhead when there are a handful of files).
    """
    from ..sources.csr_json import append_xrefs_to_csr, read_csr_dir
    from ..sources.fs import get_filesystem

    if kb is None:
        from ..fixtures.generator import kb_dfs

        kb, aliases = kb_dfs(spark)
    in_fs = get_filesystem(in_dir)    # resolved on the driver; pickled into
    out_fs = get_filesystem(out_dir)  # the foreachPartition closure below
    entities, sentences, clusters = read_csr_dir(spark, in_dir)
    linked = link_csr(entities, sentences, clusters, kb, aliases, lang)
    fnames = sorted(f for f in in_fs.listdir(in_dir) if f.endswith(".csr.json"))
    out_fs.makedirs(out_dir)

    if not distributed:
        by_doc = xref_records(linked)
        for fname in fnames:
            append_xrefs_to_csr(
                in_fs.join(in_dir, fname), out_fs.join(out_dir, fname),
                by_doc.get(fname, {}), in_fs=in_fs, out_fs=out_fs,
            )
        return len(fnames)

    # one row per document: (doc, [xref structs]); files with no links join
    # in with an empty list so every input file is rewritten
    per_doc = linked.groupBy("doc").agg(F.collect_list(_xref_struct()).alias("xrefs"))
    # spread the per-file rewrites over the cores (a local frame is one
    # partition)
    all_docs = local_frame(spark, [(f,) for f in fnames], "doc string").repartition(
        max(1, min(len(fnames), spark.sparkContext.defaultParallelism))
    )
    work = all_docs.join(per_doc, "doc", "left")

    def write_partition(rows):
        for row in rows:
            by_frame = _records_from_rows(row["xrefs"] or [])
            append_xrefs_to_csr(
                in_fs.join(in_dir, row["doc"]),
                out_fs.join(out_dir, row["doc"]),
                by_frame, in_fs=in_fs, out_fs=out_fs,
            )

    work.foreachPartition(write_partition)
    return len(fnames)
