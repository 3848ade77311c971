"""Mention discovery (reference pipeline E1): pages -> typed mentions.

Re-expresses ``code_ner_bert/main.py:run_document`` (main.py:64-290) as ONE
``mapInPandas`` pass over the pages table: text extraction, sentence split,
NAM/NOM/FIL tagging, dedup, and LDC type normalization all happen
executor-side on Arrow batches — no shuffle until the mentions table exists.

The reference's heavy taggers (CoreNLP server M1, BERT NER M2, BERT subtype
M3 — SURVEY.md §2.8) are replaced by deterministic rule/gazetteer taggers
behind the same batched interface, so a real model can drop into
``_analyze_doc`` without changing the plan (BERT weights are not in the
reference checkout either: .MISSING_LARGE_BLOBS).

Semantics reproduced exactly (file:line cites into /root/reference):
  - F1 lang gate                  document.py:187-191
  - truncation 10k chars/200 sents document.py:203-204 (in textnorm)
  - F2 stopword NAM drop          ner.py:8,345-346
  - J4 gazetteer type override    gazetteer.py:76-99, ner.py:349-364
  - J5 subtype hierarchy gate     ner.py:253-271,367-382
  - NOM filters F3/F4 + W2 dedup  nominal.py:48-98
  - F5 NAM/NOM dedup              main.py:84-98
  - W1 filler overlap resolution  main.py:100-126
  - J6 title validity             filler.py:36-43
  - F9 is_url                     dictionary.py:8-23
  - X5 LDC type normalization     main.py:134-244
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fixtures import generator as G
from ..functions.textnorm import (
    extract_text,
    reconstruct_doc,
    split_sentences,
    tokenize_with_offsets,
)
from ..session import local_frame

MENTION_SCHEMA = (
    "url string, sid int, mid string, category string, mention string, "
    "type string, coarse_type string, subtype string, subsubtype string, "
    "char_begin int, char_end int, head_begin int, head_end int, "
    "headword string, score double, sent_text string"
)

_DATE_WORDS = {
    "monday", "tuesday", "wednesday", "thursday", "friday", "saturday",
    "sunday", "january", "february", "march", "april", "may", "june",
    "july", "august", "september", "october", "november", "december",
}
_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_TIME_RE = re.compile(r"^\d{1,2}:\d{2}(:\d{2})?$")
_NUM_RE = re.compile(r"^\d+(?:[.,]\d+)*$")
# scheme markers exactly as dictionary.py:13-14 checks them ('www.' is NOT
# in the reference's predicate)
_URLISH = ("http:", "https:", "://")
_DETS = {"the", "a", "an", "this", "that", "these", "those", "its", "his", "her", "their", "our"}


@dataclass
class TaggerConfig:
    """All dimension data the taggers need; default = fixture gazetteers.
    At cluster scale this object is pickled into the mapInPandas closure
    (equivalent of a broadcast variable — a few MB at most)."""

    gaz_phrases: dict = field(default_factory=dict)  # tuple(tokens) -> (coarse, fine_or_None)
    titles: set = field(default_factory=set)  # lowercased title phrases (tuples)
    title_dict: dict = field(default_factory=dict)  # titles as a _PhraseDict
    wordnet: dict = field(default_factory=dict)  # lemma -> (type, subtype, subsubtype)
    ont_ids: list = field(default_factory=list)  # ldcOnt:* ids, scan order
    nist_key: dict = field(default_factory=dict)
    subtype_hierarchy: dict = field(default_factory=dict)
    stopwords: set = field(default_factory=set)
    adjectives: set = field(default_factory=set)  # POS-lite JJ lexicon for the NP chunker

    @classmethod
    def default(cls) -> "TaggerConfig":
        phrases: dict = {}
        for name, fine in G.GAZ_PER:
            phrases[tuple(name.split())] = ("PER", fine)
        for name, fine in G.GAZ_CITY:
            phrases[tuple(name.split())] = ("GPE", fine)
        for name in G.GAZ_ORG:
            phrases[tuple(name.split())] = ("ORG", None)
        for name in G.COUNTRIES:
            # gazetteer.py:84-85 returns the FULL fine type directly for
            # country names (an unconditional early return, no gating)
            phrases[tuple(name.split())] = ("GPE", "ldcOnt:GPE.Country.Country")
        for name in G.WEAPONS:
            phrases[tuple(name.split())] = ("WEA", None)
        for name in G.LOCATIONS:
            phrases[tuple(name.split())] = ("LOC", None)
        titles = {tuple(t.split()) for t in G.GAZ_TITLES}
        return cls(
            gaz_phrases=_PhraseDict(phrases),
            titles=titles,
            title_dict=_PhraseDict({t: None for t in titles}),
            wordnet={l: (t, s, ss) for l, t, s, ss in G.WORDNET_TYPES},
            ont_ids=list(G.LDC_ENTITY_TYPES),
            nist_key=dict(G.NIST_KEY),
            subtype_hierarchy={k: set(v) for k, v in G.SUBTYPE_HIERARCHY.items()},
            stopwords=set(G.STOPWORDS),
            adjectives=set(G.ADJECTIVES),
        )


# ------------------------------------------------------------------ X5

def normalize_ldc_type(etype: str, subtype: str, subsubtype: str, ont_ids: list) -> str:
    """LDC ontology normalization, exact scan semantics of main.py:155-180:
    first matching ont id wins; branch order: known subsubtype > type+subtype
    containment > subtype-only when type=='n/a' > VAL/TTL rewrite."""
    if etype.startswith("ldc"):
        return etype
    t = etype.lower()
    st = "." + (subtype or "n/a").lower()
    sst = "." + (subsubtype or "n/a").lower()
    for ont in ont_ids:
        low = ont.lower()
        if "n/a" not in sst:
            if sst in low:
                return ont
        elif t in low and st in low:
            return ont
        elif t == "n/a":
            if st in low:
                return ont
        elif st in (".n/a", ".na"):
            if t in ("numerical", "url", "time"):
                t = "val"
            elif t == "title":
                t = "ttl"
            return "ldcOnt:" + t.upper()
    # fall-through: the reference only PRINTS a warning (main.py:181-182)
    # and leaves mention['type'] untouched — it does NOT coerce to
    # 'ldcOnt:'+T (a raw 'per' later slices type[7:10]=='' and never links,
    # where a coerced 'ldcOnt:PER' would)
    return etype


def normalize_types_df(df: DataFrame, ont_ids: list) -> DataFrame:
    """X5 (main.py:134-244) as a COLUMNAR operator over (etype, subtype,
    subsubtype) columns — the exact decision procedure of
    ``normalize_ldc_type`` (same scan semantics), expressed as joins against
    a broadcastable ontology table + CASE, so it is SQL-oracle-checkable and
    stays inside codegen.  Adds column ``ont``.

    Decision table (derived from the reference's per-ont elif chain,
    main.py:155-182; grid-equivalence to the Python function is pinned by
    test_mentions::test_normalize_types_df_equals_python).  On a no-match
    fall-through the reference leaves the type UNCHANGED (prints a warning,
    main.py:181) — it never coerces to 'ldcOnt:'+T:
      a) etype already ldc-prefixed        -> etype
      b) subsubtype known                  -> first ont containing '.sst',
                                              else etype unchanged
      c) sst unknown, st known, t != n/a   -> first ont containing t AND '.st',
                                              else etype unchanged
      d) sst unknown, st known, t == n/a   -> first ont containing '.st',
                                              else etype unchanged
      e) sst unknown, st unknown, t != n/a -> 'ldcOnt:' + upper(VAL/TTL
                                              rewrite of t)  (the reference
                                              returns this on the FIRST ont
                                              iteration — so only when the
                                              ontology list is non-empty)
      f) sst unknown, st unknown, t == n/a -> etype unchanged (the t=='n/a'
                                              elif shadows the st-unknown
                                              rewrite branch)
    """
    if not ont_ids:  # empty ontology: the reference's loop never executes
        return df.withColumn("ont", F.col("etype"))
    spark = df.sparkSession
    ont = local_frame(
        spark, [(i, o, o.lower()) for i, o in enumerate(ont_ids)], "idx int, ont string, low string"
    )
    t = F.lower(F.col("etype"))
    st = F.concat(F.lit("."), F.lower(F.coalesce(F.nullif(F.col("subtype"), F.lit("")), F.lit("n/a"))))
    sst = F.concat(F.lit("."), F.lower(F.coalesce(F.nullif(F.col("subsubtype"), F.lit("")), F.lit("n/a"))))
    base = df.withColumn("_t", t).withColumn("_st", st).withColumn("_sst", sst)

    # the match depends ONLY on the (t, st, sst) triple, so resolve the
    # first-ont lookup over the DISTINCT triples (a dimension-sized frame)
    # and hash-join the answers back — no per-row key, no row inflation
    trips = base.select("_t", "_st", "_sst").distinct()

    def first_match(cond, out):
        return (
            trips.join(F.broadcast(ont), cond)
            .groupBy("_t", "_st", "_sst")
            .agg(F.min("idx").alias("_midx"))
            .join(F.broadcast(ont.select(F.col("idx").alias("_midx"), F.col("ont").alias(out))), "_midx")
            .drop("_midx")
        )

    keyed = (
        base.join(F.broadcast(first_match(F.col("low").contains(F.col("_sst")), "_ont_sst")),
                  ["_t", "_st", "_sst"], "left")
        .join(F.broadcast(first_match(
            F.col("low").contains(F.col("_t")) & F.col("low").contains(F.col("_st")), "_ont_tst")),
            ["_t", "_st", "_sst"], "left")
        .join(F.broadcast(first_match(F.col("low").contains(F.col("_st")), "_ont_st")),
              ["_t", "_st", "_sst"], "left")
    )

    val_rewrite = F.concat(
        F.lit("ldcOnt:"),
        F.upper(
            F.when(F.col("_t").isin("numerical", "url", "time"), "val")
            .when(F.col("_t") == "title", "ttl")
            .otherwise(F.col("_t"))
        ),
    )
    sst_known = ~F.col("_sst").contains("n/a")
    st_known = ~F.col("_st").isin(".n/a", ".na")
    result = (
        F.when(F.col("etype").startswith("ldc"), F.col("etype"))
        .when(sst_known, F.coalesce(F.col("_ont_sst"), F.col("etype")))
        .when(st_known & (F.col("_t") != "n/a"), F.coalesce(F.col("_ont_tst"), F.col("etype")))
        .when(st_known, F.coalesce(F.col("_ont_st"), F.col("etype")))
        .when(F.col("_t") != "n/a", val_rewrite)
        .otherwise(F.col("etype"))
    )
    return keyed.withColumn("ont", result).drop("_t", "_st", "_sst",
                                                "_ont_sst", "_ont_tst", "_ont_st")


def apply_nist_key(mention_text: str, cur_type: str, nist_key: dict) -> str:
    """Keyword override: exactly one mention token in nist_key -> its type
    (main.py:236-244)."""
    hits = [nist_key[tok] for tok in mention_text.lower().split() if tok in nist_key]
    return hits[0] if len(hits) == 1 else cur_type


# ------------------------------------------------------------------ sentence taggers

def _coarse_tags(tokens: list) -> list:
    """M1-stub: coarse CoreNLP-like tags (DATE/TIME/NUMBER/PERCENT/O) per
    token, deterministic regex rules."""
    tags = []
    for i, (tok, _b, _e) in enumerate(tokens):
        low = tok.lower()
        if low in _DATE_WORDS or _DATE_RE.match(tok):
            tags.append("DATE")
        elif _TIME_RE.match(tok):
            tags.append("TIME")
        elif _NUM_RE.match(tok):
            nxt = tokens[i + 1][0] if i + 1 < len(tokens) else ""
            tags.append("PERCENT" if nxt == "%" else "NUMBER")
        else:
            tags.append("O")
    return tags


def _match_phrases(tokens, claimed, phrase_dict, max_len=5, lows=None):
    """Longest-match scan of lowercased token n-grams against a phrase dict.
    Yields (i, j, value) spans over unclaimed tokens.  ``lows`` is an
    optional precomputed list of lowercased token texts (hot path: this
    function runs 3x per sentence)."""
    n = len(tokens)
    if lows is None:
        lows = [t[0].lower() for t in tokens]
    first_words = getattr(phrase_dict, "_first_words", None)
    i = 0
    out = []
    while i < n:
        if claimed[i] or (first_words is not None and lows[i] not in first_words):
            i += 1
            continue
        hit = None
        for l in range(min(max_len, n - i), 0, -1):
            if any(claimed[i:i + l]):
                continue
            key = tuple(lows[i:i + l])
            if key in phrase_dict:
                hit = (i, i + l, phrase_dict[key])
                break
        if hit:
            out.append(hit)
            for k in range(hit[0], hit[1]):
                claimed[k] = True
            i = hit[1]
        else:
            i += 1
    return out


class _PhraseDict(dict):
    """dict of token-tuple -> value with a first-word index so the scan can
    skip positions that cannot start any phrase (the common case)."""

    def __init__(self, base):
        super().__init__(base)
        self._first_words = {k[0] for k in base}


def _extract_named(tokens, coarse, cfg: TaggerConfig, lows=None):
    """M2-stub + J4: gazetteer longest-match NAMs (score 0.9, fine types where
    the gazetteer provides them — gazetteer.py:76-99) plus a capitalized-run
    heuristic for unknown entities (score 0.6 = the reference's probability
    floor, ner.py:327-329)."""
    if lows is None:
        lows = [t[0].lower() for t in tokens]
    claimed = [c != "O" for c in coarse]  # date/time/number tokens can't be NAM
    named = []
    for i, j, (ctype, fine) in _match_phrases(tokens, claimed, cfg.gaz_phrases, lows=lows):
        named.append((i, j, ctype, fine, 0.9))
    # mark titles as claimed so heuristic runs don't swallow them
    title_claimed = list(claimed)
    title_dict = cfg.title_dict or {t: None for t in cfg.titles}
    _match_phrases(tokens, title_claimed, title_dict, lows=lows)
    i = 0
    n = len(tokens)
    while i < n:
        tok = tokens[i][0]
        if (
            title_claimed[i]
            or not tok[:1].isupper()
            or not tok.replace("-", "").isalpha()
            or lows[i] in cfg.stopwords
            or lows[i] in cfg.wordnet
        ):
            i += 1
            continue
        j = i
        while (
            j < n
            and not title_claimed[j]
            and tokens[j][0][:1].isupper()
            and tokens[j][0].replace("-", "").isalpha()
            and lows[j] not in cfg.stopwords
        ):
            j += 1
        if j > i and (i > 0 or j - i >= 2):
            named.append((i, j, "PER", None, 0.6))
            for k in range(i, j):
                claimed[k] = True
        i = max(j, i + 1)
    return named, claimed


# F3 literal sets (nominal.py:48-50; dictionary.py:6 other_pronouns)
_NON_WORDS = {"mm", "hmm", "ahem", "um", "uh", "%mm", "%hmm", "%ahem", "%um", "%uh"}
_NOM_QUANTIFIERS = {"not", "every", "any", "none", "everything", "anything",
                    "nothing", "all", "enough"}
_BARE_NP_WORDS = {"sense", "case", "now", "here", "there", "who", "whom",
                  "whose", "where", "when", "which"}
_OTHER_PRONOUNS = {"who", "whom", "whose", "where", "when", "which", "i"}
_PP_PREPS = {"of", "in", "at", "on", "from", "for", "with"}


class _NPNode:
    """Minimal constituency node for the chunker: leaves carry (tag, index),
    internal nodes carry (tag, children)."""

    __slots__ = ("tag", "children", "index")

    def __init__(self, tag, children=None, index=None):
        self.tag = tag
        self.children = children or []
        self.index = index

    def leaves(self):
        if self.index is not None:
            return [self]
        out = []
        for c in self.children:
            out.extend(c.leaves())
        return out

    def span(self):
        lv = self.leaves()
        return lv[0].index, lv[-1].index + 1


def find_head_of_np(np: _NPNode) -> int:
    """Exact head-finding recursion of tree.py:64-76: last top-level NN*
    child; else recurse into the last top-level NP child; else the last
    noun leaf; else the last leaf."""
    top_nouns = [c for c in np.children if c.tag == "NN"]
    if top_nouns:
        return top_nouns[-1].index
    top_nps = [c for c in np.children if c.tag == "NP"]
    if top_nps:
        return find_head_of_np(top_nps[-1])
    leaves = np.leaves()
    noun_leaves = [l for l in leaves if l.tag == "NN"]
    if noun_leaves:
        return noun_leaves[-1].index
    return leaves[-1].index


def _noun_lemma(low: str, cfg: TaggerConfig):
    """Lexicon-POS: a token is a noun iff its (singular-stripped) lemma is in
    the wordnet table; returns the lemma or None."""
    if low in cfg.wordnet:
        return low
    if low.endswith("s") and low[:-1] in cfg.wordnet:
        return low[:-1]
    return None


def _chunk_np_trees(tokens, lows, claimed, cfg: TaggerConfig):
    """Deterministic NP chunker standing in for the CoreNLP parse (M1 is a
    sanctioned stub): grammar

        CORE  := [DT] (JJ|NN)* NN
        COORD := CORE ((CC|,) CORE)+        flat, PTB shape
                 (NP (NP core) (CC and) (NP core)) — covers conjunctions
                 ("soldiers and officers"), appositives ("the commander,
                 a veteran") and comma lists ("soldiers, tanks and guns")
        NP    := (CORE|COORD) (IN (CORE|COORD))*   right-nested PP
                 attachment (NP (NP unit) (PP in (NP unit)))

    Emits EVERY NP node (the reference walks all NP constituents of the
    parse, nominal.py:26-43), so inner cores, flat coordinations, and outer
    PP-attached spans all become candidates; W2 then keeps the largest span
    per head.  Head of a coordination follows tree.py:64-76 on the same
    shape: no top-level NN child -> recurse into the LAST top-level NP,
    i.e. the last conjunct heads the coordination."""
    n = len(tokens)
    pos = []
    for idx in range(n):
        low = lows[idx]
        if claimed[idx]:
            pos.append(None)
        elif low in _DETS:
            pos.append("DT")
        elif _noun_lemma(low, cfg) is not None:
            pos.append("NN")
        elif low.endswith("'s") and _noun_lemma(low[:-2], cfg) is not None:
            # possessive noun ("government's"): a parse yields
            # (NP (NP the government 's) (NNS soldiers)) — within the flat
            # chunker the genitive acts as a modifier slot, so tag it NN and
            # let the core-must-END-in-NN rule + head finding land on the
            # possessed noun
            pos.append("NN")
        elif low in cfg.adjectives:
            pos.append("JJ")
        elif low in _PP_PREPS:
            pos.append("IN")
        elif low in ("and", "or"):
            pos.append("CC")
        elif low == ",":
            pos.append(",")
        else:
            pos.append(None)

    def leaf(i):
        return _NPNode(pos[i], index=i)

    cores = []  # (start, end) token spans, each ending in NN
    i = 0
    while i < n:
        if pos[i] in ("DT", "JJ", "NN"):
            k = i + 1 if pos[i] == "DT" else i
            has_nn = False
            j = k
            while j < n and pos[j] in ("JJ", "NN"):
                has_nn = has_nn or pos[j] == "NN"
                j += 1
            end = j
            while end > k and pos[end - 1] != "NN":
                end -= 1  # a core must END in a noun
            if has_nn and end > i and pos[end - 1] == "NN":
                cores.append((i, end))
                i = j
            else:
                i += 1
        else:
            i += 1

    core_nodes = [_NPNode("NP", [leaf(i) for i in range(b, e)]) for b, e in cores]

    # COORD: group adjacent cores whose separator tokens are all CC/',' and
    # at most two of them ("a and b", "a, b", "a, and b").  Flat PTB shape:
    # the conjunct cores stay top-level NP children, so find_head_of_np's
    # last-NP recursion lands on the last conjunct's head.
    units = []       # one _NPNode per unit: a bare core or a coordination
    unit_spans = []  # (begin, end) token span of each unit
    inner = []       # conjunct cores of multi-core units (emitted as NPs too)
    ci = 0
    while ci < len(cores):
        group = [ci]
        cj = ci
        while cj + 1 < len(cores):
            sep_b, sep_e = cores[cj][1], cores[cj + 1][0]
            if not 0 < sep_e - sep_b <= 2:
                break
            if any(pos[s] not in ("CC", ",") for s in range(sep_b, sep_e)):
                break
            group.append(cj + 1)
            cj += 1
        if len(group) == 1:
            units.append(core_nodes[ci])
        else:
            children = []
            for gk, g in enumerate(group):
                if gk:
                    prev_end = cores[group[gk - 1]][1]
                    children.extend(leaf(s) for s in range(prev_end, cores[g][0]))
                children.append(core_nodes[g])
                inner.append(core_nodes[g])
            units.append(_NPNode("NP", children))
        unit_spans.append((cores[ci][0], cores[cj][1]))
        ci = cj + 1

    # PP attachment: unit (IN unit)* -> right-nested composite NPs
    np_nodes = list(inner)
    ui = 0
    while ui < len(units):
        # find the maximal chain unit IN unit IN unit ...
        chain = [units[ui]]
        preps = []
        uj = ui
        while (
            uj + 1 < len(units)
            and unit_spans[uj][1] < n
            and pos[unit_spans[uj][1]] == "IN"
            and unit_spans[uj + 1][0] == unit_spans[uj][1] + 1
        ):
            preps.append(unit_spans[uj][1])
            chain.append(units[uj + 1])
            uj += 1
        # build right-nested attachment and collect every NP constituent
        node = chain[-1]
        nested = [node]
        for k in range(len(chain) - 2, -1, -1):
            pp = _NPNode("PP", [leaf(preps[k]), node])
            node = _NPNode("NP", [chain[k], pp])
            nested.append(chain[k])
            nested.append(node)
        np_nodes.extend(nested)
        ui = uj + 1
    return np_nodes


def _extract_nominals(tokens, claimed, cfg: TaggerConfig):
    """NOM extraction (nominal.py:26-98) over chunker NPs: every NP node is
    a candidate; head via find_head_of_np (tree.py:64-76); F3 spurious
    filters (nominal.py:53-71); W2 head dedup keeping the largest span
    (nominal.py:75-86); F4 typed-only via the wordnet table on the headword
    (nominal.py:97-98)."""
    lows = [t[0].lower() for t in tokens]
    candidates = []
    for node in _chunk_np_trees(tokens, lows, claimed, cfg):
        b, e = node.span()
        hidx = find_head_of_np(node)
        head_low = lows[hidx]
        # F3 (nominal.py:53-68)
        if head_low in _NON_WORDS or head_low == "%":
            continue
        if e - b == 1 and (
            head_low in _NOM_QUANTIFIERS
            or head_low in _BARE_NP_WORDS
            or head_low in cfg.stopwords
            or head_low in _OTHER_PRONOUNS
        ):
            continue
        lemma = _noun_lemma(head_low, cfg)
        if lemma is None:
            continue  # untyped head -> cannot pass F4
        t, s, ss = cfg.wordnet[lemma]
        if t == "n/a" and s == "n/a" and ss == "n/a":
            continue  # F4 (nominal.py:97-98)
        candidates.append((b, e, hidx, t, s, ss))
    # W2 (nominal.py:75-86): sort by (head, span desc); keep first per head
    candidates.sort(key=lambda x: (x[2], -(x[1] - x[0]), x[0]))
    noms, seen = [], set()
    for span in candidates:
        if span[2] in seen:
            continue
        seen.add(span[2])
        noms.append(span)
    noms.sort(key=lambda x: x[0])
    return noms


def _extract_fillers(sent_text, tokens, coarse, cfg: TaggerConfig, has_per: bool, lows=None):
    """FIL extraction (filler.py): titles (J6: only if sentence has a PER,
    filler.py:36-43), times/dates, numbers/percents, urls (F9,
    dictionary.py:8-23).  Returns list of (text, begin, end, ftype)."""
    fils = []
    claimed = [False] * len(tokens)
    if has_per:
        title_dict = cfg.title_dict or {t: None for t in cfg.titles}
        for i, j, _ in _match_phrases(tokens, claimed, title_dict, lows=lows):
            b, e = tokens[i][1], tokens[j - 1][2]
            fils.append((sent_text[b:e], b, e, "TITLE"))
    i = 0
    while i < len(tokens):
        tag = coarse[i]
        if tag in ("DATE", "TIME"):
            j = i
            while j < len(tokens) and coarse[j] in ("DATE", "TIME"):
                j += 1
            b, e = tokens[i][1], tokens[j - 1][2]
            fils.append((sent_text[b:e], b, e, "TIME"))
            i = j
        elif tag in ("NUMBER", "PERCENT"):
            j = i + 1
            e = tokens[i][2]
            if tag == "PERCENT" and j < len(tokens) and tokens[j][0] == "%":
                e = tokens[j][2]
                j += 1
            b = tokens[i][1]
            fils.append((sent_text[b:e], b, e, "NUMERICAL"))
            i = j
        else:
            i += 1
    # F9 urls: whitespace chunks, not tokens (punctuation splits would shred them)
    pos = 0
    for chunk in sent_text.split(" "):
        if chunk:
            b = sent_text.index(chunk, pos)
            if is_url(chunk):
                fils.append((chunk, b, b + len(chunk), "URL"))
            pos = b + len(chunk)
    return fils


def nam_nom_dedup_df(nam: DataFrame, nom: DataFrame, keys=("url", "char_begin", "mention")) -> DataFrame:
    """F5 (main.py:84-98) as a DataFrame operator, for pipelines where NAM
    and NOM mentions arrive from separate stages: rows sharing (doc, begin,
    text) across the two sets keep the NOM iff its subtype is known
    (reference: drop the NOM when 'n/a' is in its subtype, else drop the
    NAM).  Both inputs need the key columns plus NOM a ``subtype``.

    Shape: two hash anti-joins on the composite key — no window, no
    collect; map-side combinable at any scale.
    """
    keys = list(keys)
    na_cond = F.col("subtype").contains("n/a") | F.col("subtype").isNull()
    nom_known = nom.filter(~na_cond)
    # drop a NAM iff a KNOWN-subtype NOM shares its key (main.py:95-96)
    kept_nam = nam.join(nom_known.select(keys).distinct(), keys, "left_anti")
    # drop a NOM ROW iff it is n/a-subtyped AND a NAM shares its key — the
    # resolution is per ROW, not per key: a known-subtype NOM must survive
    # even when an n/a sibling shares the same (doc, begin, text) (a
    # key-level anti-join would delete both, contradicting the reference
    # and this operator's own SQL oracle)
    nam_keys = nam.select(keys).distinct().withColumn("_has_nam", F.lit(True))
    kept_nom = (
        nom.join(nam_keys, keys, "left")
        .filter(F.col("_has_nam").isNull() | ~na_cond)
        .drop("_has_nam")
    )
    return kept_nam.withColumn("category", F.lit("NAM")).unionByName(
        kept_nom.withColumn("category", F.lit("NOM")), allowMissingColumns=True
    )


def is_url(token: str) -> bool:
    """F9 predicate (dictionary.py:8-23), char set verbatim: the reference
    counts / \\ . = - < > ' " occurrences (NOT ?&#%_~ or ':')."""
    if len(token) > 30:
        return True
    if any(m in token for m in _URLISH):
        return True
    urlish = sum(1 for ch in token if ch in "/\\.=-<>'\"")
    return urlish >= 5


def resolve_filler_overlaps(fils: list) -> list:
    """W1: the reference's exact pairwise containment walk (main.py:100-126):
    sort by begin; duplicates (same text) skipped; containment keeps the
    longer span; non-overlapping advance."""
    fils = sorted(fils, key=lambda f: int(f[1]))
    if len(fils) <= 1:
        return fils
    new = []
    f_i, f_j = 0, 1
    while f_i < len(fils) and f_j < len(fils):
        a, b = fils[f_i], fils[f_j]
        if a[0] == b[0]:
            f_j += 1
            continue
        if a[0] in b[0] or b[0] in a[0]:
            if a[2] - a[1] > b[2] - b[1]:
                f_j += 1
            else:
                f_i = f_j
                f_j += 1
        else:
            new.append(a)
            f_i = f_j
            f_j += 1
    new.append(fils[f_i])
    return new


# ------------------------------------------------------------------ per-document analysis

def _sentence_units(url: str, html, text, cfg: TaggerConfig) -> list:
    """Per-document sentence prep (main.py:64-83 + document.py semantics):
    returns [(sid, sent, s_begin, tokens, lows, coarse)] — everything a NAM
    tagger (rule stub OR a batched model) needs, so inference can batch
    sentences ACROSS documents."""
    doc = text if text else None
    if doc is None:
        from ..functions.textnorm import html_to_raw_text

        doc = html_to_raw_text(html)
    sents = split_sentences(doc)
    docstr, spans = reconstruct_doc(sents)
    units = []
    for sid, (s_begin, s_end) in enumerate(spans):
        # slice the reconstructed doc instead of re-applying the byte-level
        # quirks (%20 -> ___, trailing ';'): reconstruct_doc is the SINGLE
        # frozen spec of those transformations, and the slice is what
        # guarantees offsets align with extract_text's document string
        sent = docstr[s_begin:s_end]
        tokens = tokenize_with_offsets(sent)
        if not tokens:
            continue
        lows = [t[0].lower() for t in tokens]
        coarse = _coarse_tags(tokens)
        units.append((sid, sent, s_begin, tokens, lows, coarse))
    return units


def _assemble_rows(url, sid, sent, s_begin, tokens, lows, coarse, named, claimed,
                   cfg: TaggerConfig) -> list:
    """Everything AFTER NAM tagging (main.py:84-290): F2 stopword drop,
    nominals, F5 NAM/NOM dedup, fillers + W1 + J6, X5 normalization, id
    minting.  Shared verbatim between the rule tagger and the batched model
    adapter so a model drop-in changes ONLY the NAM source."""
    rows = []
    # J6 title gate looks at the RAW tagger output (filler.py:38-41 scans
    # ners for B-PER BEFORE any filtering), so compute it before F2/F5
    has_per = any(ct == "PER" for (_i, _j, ct, _f, _sc) in named)
    # F2: stopword NAM drop (ner.py:345-346) — the reference compares the
    # RAW-case mention against the lowercase stopword set, so capitalized
    # stopword spans ('The') SURVIVE; do not lowercase here
    named = [
        nm for nm in named
        if sent[tokens[nm[0]][1]:tokens[nm[1] - 1][2]] not in cfg.stopwords
    ]
    noms = _extract_nominals(tokens, claimed, cfg)
    # F5: NAM/NOM same (text, begin) -> drop NOM if its subtype is n/a,
    # else drop the NAM (main.py:84-98)
    nam_spans = {(tokens[i][1], " ".join(t[0] for t in tokens[i:j])): k for k, (i, j, *_r) in enumerate(named)}
    drop_nam, drop_nom = set(), set()
    for k, (i, j, hidx, t, s, ss) in enumerate(noms):
        key = (tokens[i][1], " ".join(tk[0] for tk in tokens[i:j]))
        if key in nam_spans:
            if "n/a" in (s or "n/a"):
                drop_nom.add(k)
            else:
                drop_nam.add(nam_spans[key])
    named = [nm for k, nm in enumerate(named) if k not in drop_nam]
    noms = [nm for k, nm in enumerate(noms) if k not in drop_nom]

    fils = _extract_fillers(sent, tokens, coarse, cfg, has_per, lows)
    fils = resolve_filler_overlaps(fils)

    m_id = 0
    for ftext, b, e, ftype in fils:
        ont = normalize_ldc_type(ftype, "n/a", "n/a", cfg.ont_ids)
        rows.append(
            (url, sid, f"{url}#s{sid}#e{m_id}", "FIL", ftext, ont, ftype,
             "n/a", "n/a", s_begin + b, s_begin + e, s_begin + b,
             s_begin + e, ftext, 0.9, sent)
        )
        m_id += 1
    for i, j, ctype, fine, score in named:
        mtext = sent[tokens[i][1]:tokens[j - 1][2]]
        sub = "n/a"
        if fine:
            # the reference applies gazetteer fine types DIRECTLY as the
            # mention type (ner.py:349-364 — no hierarchy gate); only the
            # derived subtype COLUMN is hierarchy-gated (J5)
            parts = fine.split(":", 1)[1].split(".")
            if len(parts) > 1 and parts[1] in cfg.subtype_hierarchy.get(parts[0], set()):
                sub = parts[1]
        if fine:
            # ldc-prefixed gazetteer type: the reference's normalization
            # loop `continue`s on startswith('ldc') BEFORE the nist_key
            # block (main.py:187-188), so neither normalization nor the
            # keyword override applies
            ont = fine
        else:
            ont = normalize_ldc_type(ctype, sub, "n/a", cfg.ont_ids)
            ont = apply_nist_key(mtext, ont, cfg.nist_key)
        rows.append(
            # head_span = the LAST token's span (ner.py:337), matching the
            # headword column — not the full mention span
            (url, sid, f"{url}#s{sid}#e{m_id}", "NAM", mtext, ont, ctype,
             sub, "n/a", s_begin + tokens[i][1], s_begin + tokens[j - 1][2],
             s_begin + tokens[j - 1][1], s_begin + tokens[j - 1][2],
             tokens[j - 1][0], score, sent)
        )
        m_id += 1
    for i, j, hidx, t, s, ss in noms:
        mtext = sent[tokens[i][1]:tokens[j - 1][2]]
        if t.startswith("ldc"):  # same main.py:187-188 gate as NAMs
            ont = t
        else:
            ont = normalize_ldc_type(t, s, ss, cfg.ont_ids)
            ont = apply_nist_key(mtext, ont, cfg.nist_key)
        rows.append(
            (url, sid, f"{url}#s{sid}#e{m_id}", "NOM", mtext, ont, t, s, ss,
             s_begin + tokens[i][1], s_begin + tokens[j - 1][2],
             s_begin + tokens[hidx][1], s_begin + tokens[hidx][2],
             tokens[hidx][0], 0.9, sent)
        )
        m_id += 1
    return rows


def _analyze_doc(url: str, html, text, cfg: TaggerConfig) -> list:
    """Full E1 per-document flow (main.py:64-290) as a pure function:
    sentence prep -> rule/gazetteer NAM tagging (M2-stub) -> shared
    assembly (_assemble_rows)."""
    rows = []
    for sid, sent, s_begin, tokens, lows, coarse in _sentence_units(url, html, text, cfg):
        named, claimed = _extract_named(tokens, coarse, cfg, lows)
        rows.extend(
            _assemble_rows(url, sid, sent, s_begin, tokens, lows, coarse,
                           named, claimed, cfg)
        )
    return rows


_COLS = [
    "url", "sid", "mid", "category", "mention", "type", "coarse_type",
    "subtype", "subsubtype", "char_begin", "char_end", "head_begin",
    "head_end", "headword", "score", "sent_text",
]


def discover_mentions(pages: DataFrame, cfg: TaggerConfig | None = None) -> DataFrame:
    """pages (url, warc_ts, html, text, lang) -> mentions DataFrame.

    Single mapInPandas stage after the lang filter — the filter is pushed to
    the scan (check `.explain()`: PushedFilters on lang), the tagger runs on
    Arrow batches, nothing shuffles.
    """
    cfg = cfg or TaggerConfig.default()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                out.extend(_analyze_doc(url, html, text, cfg))
            yield pd.DataFrame(out, columns=_COLS)

    return (
        pages.filter(F.col("lang") == "eng")  # F1, document.py:187-191
        .select("url", "html", "text")
        .mapInPandas(run, schema=MENTION_SCHEMA)
    )


def extract_text_df(pages: DataFrame) -> DataFrame:
    """The byte-identity surface as a DataFrame: (url, text_extracted).
    Golden-fixture tested; pure pandas UDF over Arrow batches."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "text_extracted": [
                        extract_text(h, t) for h, t in zip(pdf["html"], pdf["text"])
                    ],
                }
            )

    return pages.select("url", "html", "text").mapInPandas(
        run, schema="url string, text_extracted string"
    )
