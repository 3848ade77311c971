"""Entity linking (reference pipeline E2) as pure DataFrame transformations.

Reproduces ``xianyang_linking/linking.py`` semantics without Lucene or any
mutable state:

  - SRC6 KB cleaning            linking.py:28-43
  - SRC5 alias fan-out          linking.py:46-75
  - J1 exact candidate gen      linking.py:110-119 (Lucene AND-of-terms ->
                                inverted token index + count(all tokens) join)
  - F6/F7 type gate + id dedup  linking.py:150-169
  - rule scoring                linking.py:173-202
  - W5 argmax tie set           linking.py:204-213
  - J2 fuzzy retry on NILs      linking.py:141-148, 320-329 (levenshtein join)
  - disamb (X6 edit + IoU ctx)  linking.py:284-307
  - A7 confidence normalization linking.py:303-305
  - W3 top-1 by confidence      linking.py:306
  - J3/A1/A6 temporary KB       linking.py:338-388, 469-475 (two-pass over the
                                NIL subset; ids deterministic sha1, not a
                                mutable counter — documented deviation)

Scale notes: the alias/token index is broadcast (cleaned LORELEI-style KB is
MB-scale); mention-side joins shuffle on token, which is the skew surface —
AQE skew-join is on (session.py) and hot mention names are naturally spread
because the join key is (token), not (mention).  The fuzzy pass runs only on
the (small) still-NIL subset, mirroring the reference's retry-on-miss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.editdist import dl_distance_udf
from ..session import local_frame

TOP_K_CANDIDATES = 100  # linking.py:112
TMPKB_PROMOTE_MIN = 5  # linking.py:473-475
# The reference ASKS for dist up to min(5, len//5) (linking.py:320-322), but
# Lucene FuzzyQuery caps maxEdits at 2: the 'term~3..5' retries throw inside
# the try/except and the query returns 'none' (linking.py:322-324).  The
# reference's EFFECTIVE fuzzy budget is therefore min(2, len//5) — we
# reproduce that, not the dead 3..5 range (DEVIATIONS.md #3).
MAX_FUZZY_DIST = 2
# Broadcast the alias/variant index only while it is dimension-scale.  The
# binding constraint is the FUZZY variant index: deletion variants inflate
# the alias tokens ~(1 + L + L(L-1)/2)-fold (~40x at L=8), so 200k aliases
# is ~300-400 MB broadcast — beyond that every executor pays the memory and
# the broadcast build serializes on the driver.  Above the threshold the
# SAME equi key joins as a shuffled SORT-MERGE join (spillable; AQE
# skew-join splits hot variants).
FUZZY_BROADCAST_MAX_ALIASES = 200_000


# ------------------------------------------------------------------ KB prep

def clean_kb(kb: DataFrame) -> DataFrame:
    """SRC6 (linking.py:28-43): drop GEO rows with country not in (RU, UA)
    and empty wiki, THEN drop duplicate eids (first wins — order is
    undefined in a set-oriented engine, so 'first' = min source ordering via
    monotonically increasing row id is avoided; we keep an arbitrary-but-
    deterministic row per eid by ordering on all columns).

    Order matters: the reference's loop skips a GEO-filtered row WITHOUT
    claiming its eid (`if eid in eids` runs first, but `eids.add` only runs
    after the GEO check), so a later non-GEO row with the same eid still
    enters the KB.  Dedup-then-filter would let the filtered GEO row win the
    dedup and then delete it — losing the entity entirely."""
    w = Window.partitionBy("eid").orderBy("src", "type", "name", "country", "feature", "wiki")
    return (
        kb.filter(
            ~(
                (F.col("src") == "GEO")
                & ~F.col("country").isin("RU", "UA")
                & (F.col("wiki") == "")
            )
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def build_alias_table(kb_clean: DataFrame, aliases: DataFrame) -> DataFrame:
    """SRC5 (linking.py:46-75): one row per (eid, surface name) — the
    canonical name plus every alias; carries the canonical name and the
    `info` fields the scorer reads.  `info` tab-field semantics:
      GEO -> country \\t feature \\t wiki   (3 fields)
      WLL -> 3 joined bio fields            (3 fields)
      APB -> 1 field                        (1 field)
    The scorer's "wiki" bonus is actually `len(info.split('\\t'))==3`
    (linking.py:190) — we materialize `info_nfields` to reproduce that bug-
    for-bug."""
    base = kb_clean.select(
        "eid",
        F.col("name").alias("cand_name"),
        F.col("name").alias("cname"),
        F.col("type").alias("cand_type"),
        "src", "country", "feature", "wiki",
    )
    al = (
        aliases.join(kb_clean.select("eid", "name", "type", "src", "country", "feature", "wiki"), "eid")
        .select(
            "eid",
            F.col("alias").alias("cand_name"),
            F.col("name").alias("cname"),
            F.col("type").alias("cand_type"),
            "src", "country", "feature", "wiki",
        )
    )
    info = (
        F.when(F.col("src") == "GEO", F.concat_ws("\t", "country", "feature", "wiki"))
        .when(F.col("src") == "WLL", F.col("country"))  # fixture stores WLL bio in `country`
        .when(F.col("src") == "APB", F.col("country"))
        .otherwise(F.lit(""))
    )
    nfields = (
        F.when(F.col("src") == "GEO", F.lit(3))
        .when(F.col("src") == "WLL", F.lit(3))
        .otherwise(F.lit(1))
    )
    # alias_id is CONTENT-derived (not monotonically_increasing_id): it
    # tie-breaks the top-100 cap and the F7 per-eid dedup, so it must not
    # depend on the KB's physical partition layout — determinism across
    # partitionings is a contract (see test_linking determinism tests).
    # is_alias disambiguates a base row from an alias row with the same
    # (eid, surface); the hash is unique per logical row.
    base = base.withColumn("_is_alias", F.lit(0))
    al = al.withColumn("_is_alias", F.lit(1))
    surf = base.unionByName(al)
    return (
        surf.withColumn(
            "alias_id",
            F.xxhash64(F.concat_ws("|", "eid", "cand_name", "src", "_is_alias")),
        )
        .drop("_is_alias")
        .withColumn("info", info)
        .withColumn("info_nfields", nfields)
        .withColumn("name_norm", F.lower(F.col("cand_name")))
        .withColumn("tokens", F.expr(r"filter(split(lower(cand_name), '[^\\p{L}\\p{N}]+'), t -> t != '')"))
        .withColumn("n_tokens", F.size("tokens"))
    )


# ------------------------------------------------------------------ candidate generation

def _del1_sql(e: str, var: str = "i") -> str:
    """SQL expr: all strings obtained by deleting exactly one char of ``e``
    (empty input -> empty array; sequence(1,0) would count DOWN in Spark)."""
    return (
        f"CASE WHEN length({e}) <= 0 THEN array() ELSE "
        f"transform(sequence(1, length({e})), {var} -> "
        f"concat(substring({e}, 1, {var}-1), substring({e}, {var}+1))) END"
    )


def deletion_variants(col: str, budget: str) -> "F.Column":
    """SymSpell-style deletion neighborhood of a token, depth <= ``budget``
    (a column name or int literal, clamped by construction to 0..2 —
    MAX_FUZZY_DIST is 2, the effective Lucene budget).

    Guarantee used by the fuzzy join: dl(q, a) <= d (Damerau — each edit,
    transpositions included, costs at most one deletion on each side)
    implies q and a share a string reachable by <= d deletions from each
    side, so an EQUI-join on the variant retrieves a superset of the true
    matches; one Damerau distance per joined pair verifies (pinned by
    test_properties::test_deletion_variant_guarantee_holds_for_damerau).  |variants| = 1 + L + L(L-1)/2 per token at d=2.
    """
    d0 = f"array({col})"
    d1 = _del1_sql(col)
    d2 = f"flatten(transform({_del1_sql(col)}, t -> {_del1_sql('t', 'j')}))"
    return F.expr(
        f"CASE WHEN {budget} >= 2 THEN array_distinct(concat({d0}, {d1}, {d2})) "
        f"WHEN {budget} >= 1 THEN array_distinct(concat({d0}, {d1})) "
        f"ELSE {d0} END"
    )


def _nam_queries(mentions: DataFrame) -> DataFrame:
    """NAM mentions -> (mid, ent_name, ent_type, ctx_tokens) query rows.
    ent_name = lower(mention), ent_type = type[7:10] (linking.py:310).
    ctx_tokens = RAW-case whitespace tokens of the sentence — the reference's
    IoU compares info vs the raw sentence (iou(info, sentence),
    linking.py:291,309); tokenized ONCE per mention here, not per candidate."""
    return (
        mentions.filter(F.col("category") == "NAM")  # F10
        .select(
            "url", "mid",
            F.lower(F.col("mention")).alias("ent_name"),
            F.substring(F.col("type"), 8, 3).alias("ent_type"),  # X4
            # array_remove "": str.split() in the reference never yields
            # empty tokens, but F.split does on leading/trailing whitespace —
            # an empty token could "intersect" an empty info and inflate IoU
            F.array_remove(
                F.array_distinct(F.split(F.col("sent_text"), r"\s+")), ""
            ).alias("ctx_tokens"),
        )
        .withColumn("q_tokens", F.expr(r"array_distinct(filter(split(ent_name, '[^\\p{L}\\p{N}]+'), t -> t != ''))"))
        .withColumn("n_q", F.size("q_tokens"))
        .filter(F.col("n_q") > 0)
    )


def generate_candidates(queries: DataFrame, alias_table: DataFrame, fuzzy_dist: int = 0) -> DataFrame:
    """J1/J2: Lucene AND-of-terms retrieval as a token join.

    Exact (dist=0): mention token == alias token.
    Fuzzy (dist>0): levenshtein(mention token, alias token) <= dist, with a
    length-band pre-filter so the join has an equi-ish prune (linking.py:141-148).
    A candidate survives iff EVERY query token matched (AND semantics,
    linking.py:106).  Capped at top-100 per mention (linking.py:112), ordered
    by closeness (fewer extra alias tokens first) as the Lucene-score proxy.
    """
    q_tok = queries.select("mid", "n_q", F.explode("q_tokens").alias("q_tok"))
    a_tok = alias_table.select(
        "alias_id", "eid", "cand_name", "cname", "cand_type", "info",
        "info_nfields", "n_tokens", F.explode("tokens").alias("a_tok"),
    )
    if fuzzy_dist == 0:
        joined = q_tok.join(F.broadcast(a_tok), q_tok.q_tok == a_tok.a_tok)
    else:
        # equi-keyed deletion-neighborhood join (see deletion_variants);
        # duplicates from multiple shared variants are harmless under the
        # countDistinct rollup below
        q_var = q_tok.withColumn("variant", F.explode(deletion_variants("q_tok", str(int(fuzzy_dist)))))
        a_var = a_tok.withColumn("variant", F.explode(deletion_variants("a_tok", str(int(fuzzy_dist)))))
        joined = (
            q_var.join(F.broadcast(a_var), q_var.variant == a_var.variant)
            # Damerau (transposition-aware) to match Lucene's FuzzyQuery
            .filter(dl_distance_udf(F.col("q_tok"), F.col("a_tok")) <= fuzzy_dist)
        )
    cands = (
        joined.groupBy("mid", "n_q", "alias_id", "eid", "cand_name", "cname",
                       "cand_type", "info", "info_nfields", "n_tokens")
        .agg(F.countDistinct("q_tok").alias("n_matched"))
        .filter(F.col("n_matched") == F.col("n_q"))  # AND semantics
    )
    w = Window.partitionBy("mid").orderBy(F.col("n_tokens").asc(), F.col("alias_id").asc())
    return (
        cands.withColumn("lucene_rank", F.row_number().over(w))
        .filter(F.col("lucene_rank") <= TOP_K_CANDIDATES)  # W4
    )


def generate_candidates_unified(queries: DataFrame, alias_table: DataFrame,
                                max_dist: int = MAX_FUZZY_DIST,
                                broadcast_index: bool | None = None) -> DataFrame:
    """Exact + fuzzy candidate generation in ONE pass.

    The reference retries retrieval at dist = 1..min(5, len//5) only until
    the first dist whose *type-gated* candidate set is non-empty
    (linking.py:309-336).  That sequential loop is equivalent to:

      d*(cand) = max over query tokens of (min over alias tokens of lev)
      winning dist per mention = min d*(c) over gated candidates
      candidate set = gated candidates with d*(c) == winning dist

    because fuzzy~d retrieval is monotone in d (a dist-d match is also a
    dist-d+1 match).  One join + two aggregations replaces 5 sequential
    rounds x several shuffles each (measured 31s -> ~4s at sf0.1).

    Returns candidates with a ``d_star`` column; F6 gate + min-d* filter
    applied; capped at top-100 per mention (linking.py:112).

    ``broadcast_index`` picks the alias-index join regime:
      True  — broadcast hash joins (dimension-scale KB: the default for the
              reference's MB-scale cleaned LORELEI KB)
      False — SHUFFLED joins on the same equi keys (web-scale KB whose
              variant index cannot broadcast): sort-merge, which spills
              instead of OOMing on the hash-map build (a shuffle_hash hint
              was tried first and threw SparkOutOfMemoryError at 20M variant
              rows x 32 concurrent build tasks — SMJ is the only shape that
              survives an unbounded KB), with AQE skew-join splitting hot
              variants and AQE free to convert back to broadcast/SHJ where
              runtime stats allow.  Measured sub-quadratic in corpus and KB
              size — see BENCH.md "fuzzy join, shuffled regime".
      None  — auto: broadcast iff count(alias_table) <=
              FUZZY_BROADCAST_MAX_ALIASES (one cheap count job on what the
              caller keeps checkpointed; at real scale pass the flag or rely
              on table statistics instead).
    """
    if broadcast_index is None:
        broadcast_index = alias_table.count() <= FUZZY_BROADCAST_MAX_ALIASES

    def _idx(df: DataFrame) -> DataFrame:
        """Alias-side index frame: broadcast when dimension-scale, else a
        sort-merge join on the equi key (spillable — never an in-memory
        hash build over an unbounded KB, never a nested loop)."""
        return F.broadcast(df) if broadcast_index else df.hint("merge")

    _CAND_COLS = [
        "mid", "n_q", "alias_id", "eid", "cand_name", "cname", "cand_type",
        "info", "info_nfields", "n_tokens", "d_star", "lucene_rank",
    ]
    # slim token index for the joins; full attributes rejoined (broadcast)
    # only AFTER rollup + gate + cap, so every shuffle carries narrow rows —
    # grouping on the 12-attribute composite was 3-4x slower at bench scale
    attrs = alias_table.select(
        "alias_id", "eid", "cand_name", "cname", "cand_type", "info",
        "info_nfields", "n_tokens",
    )
    # DISTINCT alias tokens: a duplicated token inside one alias ("new york
    # new york") must not double-count an AND-semantics match; with the
    # explode deduped, the rollup can use a plain count(*) instead of the
    # 2-phase countDistinct (n_tokens keeps the raw length for the
    # Lucene-closeness proxy)
    a_tok = alias_table.select(
        "alias_id", F.col("cand_type").alias("a_type"), "n_tokens",
        F.explode(F.array_distinct("tokens")).alias("a_tok"),
    )
    # F6 type-compat predicates (linking.py:151-159): a_gate over the token
    # index's a_type (used only to pick the fuzzy winning dist — the
    # reference stops at the first dist whose GATED set is non-empty), and
    # a_gate_cand over _cap's rejoined cand_type.  Neither is applied to the
    # EMITTED candidate set: retrieval is ungated and score_candidates owns
    # the gate, as in the reference.
    a_gate = (
        (F.col("ent_type").isin("GPE", "LOC", "FAC") & F.col("a_type").isin("GPE", "LOC"))
        | ((F.col("ent_type") == "ORG") & (F.col("a_type") == "ORG"))
        | ((F.col("ent_type") == "PER") & (F.col("a_type") == "PER"))
    )
    a_gate_cand = (
        (F.col("ent_type").isin("GPE", "LOC", "FAC") & F.col("cand_type").isin("GPE", "LOC"))
        | ((F.col("ent_type") == "ORG") & (F.col("cand_type") == "ORG"))
        | ((F.col("ent_type") == "PER") & (F.col("cand_type") == "PER"))
    )

    def _cap(gated):
        """top-100 per mention + attribute rejoin.  Applied ONCE, after the
        exact/fuzzy union: the two phases cover DISJOINT mention ids (fuzzy
        runs only on exact misses), so a single window is equivalent to
        capping each phase — and saves one shuffle + one broadcast job."""
        w = Window.partitionBy("mid").orderBy(F.col("n_tokens").asc(), F.col("alias_id").asc())
        return (
            gated.withColumn("lucene_rank", F.row_number().over(w))
            .filter(F.col("lucene_rank") <= TOP_K_CANDIDATES)  # W4
            .join(_idx(attrs.drop("n_tokens")), "alias_id")
            .select(*_CAND_COLS)
        )

    q_tok = queries.select(
        "mid", "n_q", "ent_type",
        F.least(F.lit(max_dist), F.floor(F.length("ent_name") / 5)).cast("int").alias("budget"),
        F.explode("q_tokens").alias("q_tok"),
    )

    # Phase 1 — exact retrieval as a broadcast HASH join on the token (the
    # hot path; a nested-loop fuzzy join over all mentions costs
    # |q_tokens| x |alias_tokens| levenshteins — measured 368M at bench
    # scale).  Retrieval is UNGATED, as in the reference: Lucene queries on
    # name tokens only, retrieval capped at 100, and the F6 type gate runs
    # AFTERWARDS in score_candidates (linking.py:112 then :151-159).  Gating
    # inside the join would reorder cap-vs-gate: a mention whose gated
    # candidates all rank below the ungated top-100 must fall through to
    # fuzzy/NIL, not keep them.
    exact = (
        q_tok.join(_idx(a_tok), q_tok.q_tok == a_tok.a_tok)
        .groupBy("mid", "n_q", "alias_id", "n_tokens")
        # count(*) == countDistinct(q_tok) here: q_tokens are array_distinct
        # and a_tok is deduped per alias, so each (mid, alias, q_tok) joins
        # at most once — plain count avoids the 2-phase distinct aggregation
        .agg(F.count("*").alias("n_matched"))
        .filter(F.col("n_matched") == F.col("n_q"))  # AND semantics
        .withColumn("d_star", F.lit(0))
        # no localCheckpoint (r07): both consumers (the union and the
        # fuzzy-phase anti-join) live inside ONE downstream action, and the
        # subtree ends in an exchange, so AQE's ReuseExchangeAndSubquery
        # dedups it at runtime — the eager checkpoint was one more
        # sequential job in the latency-bound chain
    )
    # fuzzy triggers when the GATED capped exact set is empty
    # (linking.py:317-319: score_candidates(search_candidates(name, 0))
    # empty -> retries); the gate needs cand_type, which _cap's attrs
    # rejoin provides
    exact_gated_mids = (
        _cap(exact)
        .join(queries.select("mid", "ent_type"), "mid")
        .filter(a_gate_cand)
        .select("mid")
        .distinct()
    )

    # Phase 2 — fuzzy retrieval ONLY for mentions whose gated exact set is
    # empty (linking.py:319-329), folding all retry distances into one pass:
    #   d*(cand) = max over q tokens of min lev; keep candidates at the
    #   per-mention min d* (equivalent to "first non-empty dist wins")
    #
    # The join is EQUI-keyed on SymSpell deletion variants (see
    # deletion_variants): both sides explode their <=2-deletion
    # neighborhoods and hash-join on the variant string, then one
    # levenshtein per joined pair verifies lev <= budget.  This replaces a
    # broadcast nested-loop join whose cross product was |q_tokens| x
    # |alias_tokens| levenshteins (368M measured at bench scale when
    # unrestricted) — on a cold corpus/KB mismatch the NIL subset IS the
    # corpus, so the BNLJ shape cannot survive 100x.  The variant index
    # inflates the alias tokens ~|L|^2/2-fold; dimension-scale KBs broadcast
    # it, web-scale KBs shuffle it (see ``broadcast_index``) — the equi key
    # is identical in both regimes.
    nil1 = q_tok.join(exact_gated_mids, "mid", "left_anti").filter(
        F.col("budget") >= 1
    )
    # Damerau-Levenshtein, NOT classic levenshtein: Lucene FuzzyQuery
    # builds its automata with transpositions ('from'~1 matches 'form'),
    # and the oracles use DuckDB's damerau_levenshtein (functions/editdist)
    lev = dl_distance_udf(F.col("q_tok"), F.col("a_tok"))
    q_var = nil1.withColumn("variant", F.explode(deletion_variants("q_tok", "budget")))
    a_var = a_tok.withColumn("variant", F.explode(deletion_variants("a_tok", str(int(max_dist)))))
    # retrieval is UNGATED (reference: `term~d` queries carry no type);
    # a_type is carried through the rollup so the winning-dist vote below
    # can look at gate compatibility without a rejoin
    fuzzy_pairs = (
        q_var.join(_idx(a_var), q_var.variant == a_var.variant)
        .withColumn("lev", lev)
        .filter(F.col("lev") <= F.col("budget"))
    )
    # duplicate (q_tok, a_tok) rows from multiple shared variants are
    # harmless: the min() below is duplicate-insensitive
    per_tok = fuzzy_pairs.groupBy(
        "mid", "n_q", "budget", "alias_id", "a_type", "n_tokens", "q_tok"
    ).agg(F.min("lev").alias("min_lev"))
    fuzzy = (
        per_tok.groupBy("mid", "n_q", "budget", "alias_id", "a_type", "n_tokens")
        .agg(F.count("*").alias("n_matched"), F.max("min_lev").alias("d_star"))
        .filter((F.col("n_matched") == F.col("n_q")) & (F.col("d_star") <= F.col("budget")))
    )
    # winning dist = min d* over GATE-COMPATIBLE candidates (the reference
    # stops at the first dist whose score_candidates output is non-empty,
    # linking.py:318-329); emission then keeps ALL candidates with
    # d* <= winning dist — retrieval at dist d includes every lower-dist
    # match, and score_candidates gates them downstream
    ent_types = queries.select("mid", "ent_type")
    w_m = Window.partitionBy("mid")
    fuzzy = (
        fuzzy.join(ent_types, "mid")
        .withColumn("gated_d", F.when(a_gate, F.col("d_star")))
        .withColumn("d_min", F.min("gated_d").over(w_m))
        .filter(F.col("d_star") <= F.col("d_min"))
        .drop("gated_d", "d_min", "ent_type", "a_type")
    )
    # phase emissions are mid-disjoint: exact emits only for mids whose
    # gated exact set is non-empty; every other mid goes through fuzzy,
    # whose variant join re-retrieves the dist-0 matches too (a `term~d`
    # query matches all distances <= d), so nothing is lost and nothing is
    # emitted twice
    exact_emit = exact.join(exact_gated_mids, "mid")
    return _cap(
        exact_emit.select("mid", "n_q", "alias_id", "n_tokens", "d_star").unionByName(
            fuzzy.select("mid", "n_q", "alias_id", "n_tokens", "d_star")
        )
    )


# ------------------------------------------------------------------ scoring

def score_candidates(cands: DataFrame, queries: DataFrame) -> DataFrame:
    """F6 type gate + F7 id-dedup + rule scores + W5 argmax tie-keeping
    (linking.py:150-213), fully columnar.

    ctx_tokens (the raw-sentence token array the IoU needs) is deliberately
    NOT joined here: it is only read by ``disambiguate``, and carrying a
    ~30-element string array through this function's three window sorts
    doubled the shuffle bytes at bench scale — disambiguate joins it last.
    """
    df = cands.join(queries.select("url", "mid", "ent_name", "ent_type"), "mid")
    # F6 type-compat gate (linking.py:151-159)
    gate = (
        (F.col("ent_type").isin("GPE", "LOC", "FAC") & F.col("cand_type").isin("GPE", "LOC"))
        | ((F.col("ent_type") == "ORG") & (F.col("cand_type") == "ORG"))
        | ((F.col("ent_type") == "PER") & (F.col("cand_type") == "PER"))
    )
    df = df.filter(gate)
    # F7 id dedup: first occurrence in retrieval order wins (linking.py:161-169)
    w_id = Window.partitionBy("mid", "eid").orderBy("lucene_rank")
    df = df.withColumn("_rid", F.row_number().over(w_id)).filter(F.col("_rid") == 1).drop("_rid")

    name_low = F.lower(F.col("cand_name"))
    score = (
        F.when(name_low == F.col("ent_name"), 1.0)
        .when(F.col("cand_name").isNotNull() & name_low.contains(F.col("ent_name")), 0.5)
        .otherwise(0.0)  # linking.py:175-181
        + F.when(F.col("cand_type") == F.col("ent_type"), 1.0).otherwise(0.0)  # :183-186
        + F.when((F.col("info") != "") & (F.col("info_nfields") == 3), 1.0).otherwise(0.0)  # :188-191
        + F.when(
            F.col("ent_type").isin("GPE", "LOC") & (F.col("info") != ""),
            F.when(F.split("info", "\t").getItem(1) == "country,state,region,...", 1.0).otherwise(0.0)
            + F.when(F.split("info", "\t").getItem(0).isin("RU", "UA"), 1.0).otherwise(0.0)
            + F.when(F.split("info", "\t").getItem(0).isin("US", "CA"), -0.5).otherwise(0.0),
        ).otherwise(0.0)  # :194-202
    )
    df = df.withColumn("rule_score", score)
    # singleton short-circuit (linking.py:170-171): single candidate skips
    # scoring entirely; W5 keeps all candidates tied at the max otherwise.
    w_m = Window.partitionBy("mid")
    df = df.withColumn("_ncand", F.count("*").over(w_m)).withColumn(
        "_max", F.max("rule_score").over(w_m)
    )
    return df.filter((F.col("_ncand") == 1) | (F.col("rule_score") == F.col("_max"))).drop("_max")


def disambiguate(scored: DataFrame, queries: DataFrame | None = None) -> DataFrame:
    """linking.py:284-307 + 333-335: singleton -> confidence 1.0; otherwise
    edit proximity (X6) + context IoU (I1, PER/ORG only; PER +1 for
    Russia/Ukraine in info), normalized per mention (A7), ranked (W3).

    ``queries`` supplies ctx_tokens for the IoU; passing it here (instead of
    carrying the array through score_candidates' windows) keeps the heavy
    column out of three sorts.  Omit it only if ``scored`` already has a
    ctx_tokens column."""
    if queries is not None:
        scored = scored.join(queries.select("mid", "ctx_tokens"), "mid")
    edit = 1.0 / (F.abs(F.length("cand_name") - F.length("ent_name")) + 1)  # X6
    # array_remove "": iou('', sentence) must be 0 as in the reference's
    # str.split() (F.split('', ..) yields [''] which would fake an overlap)
    info_toks = F.array_remove(F.array_distinct(F.split(F.col("info"), r"\s+")), "")
    iou = F.size(F.array_intersect(info_toks, F.col("ctx_tokens"))) / F.size(
        F.array_union(info_toks, F.col("ctx_tokens"))
    )
    ctx = (
        F.when(F.col("ent_type") == "PER",
               iou * 5 + F.when(F.col("info").contains("Russia") | F.col("info").contains("Ukraine"), 1.0).otherwise(0.0))
        .when(F.col("ent_type") == "ORG", iou * 5)
        .otherwise(0.0)
    )
    df = scored.withColumn("raw_conf", edit + ctx)
    # ordered frame so the double summation accumulates in a deterministic
    # (eid) order — an unordered window sums in shuffle-arrival order, which
    # can differ in the last ulp across partitionings and break the
    # bit-identical-output contract the golden oracle relies on
    w = Window.partitionBy("mid").orderBy("eid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    df = df.withColumn(
        "confidence",
        F.when(F.col("_ncand") == 1, 1.0).otherwise(
            F.col("raw_conf") / F.sum("raw_conf").over(w)  # A7
        ),
    )
    w_rank = Window.partitionBy("mid").orderBy(F.col("confidence").desc(), F.col("eid").asc())
    return df.withColumn("rank", F.row_number().over(w_rank))


# ------------------------------------------------------------------ temporary KB

def tmpkb_seed(spark) -> DataFrame:
    """The reference pre-registers MH17 and T-34 (linking.py:351-352)."""
    return local_frame(
        spark, [("MH17", "VEH"), ("T-34", "VEH")], "name string, type string"
    ).withColumn("tmp_eid", _tmp_eid())


def _tmp_eid():
    """A6: deterministic id instead of the reference's mutable counter file
    (linking.py:340-361) — parallel-safe, resume-safe, idempotent."""
    return F.concat(F.lit("@"), F.substring(F.sha1(F.concat_ws("|", "name", "type")), 1, 12))


def promote_nils(nil_queries: DataFrame) -> DataFrame:
    """A1 (linking.py:466-475): count still-NIL mentions per (name, type3);
    >= 5 become temporary-KB entities.

    DELIBERATE DEVIATION (DEVIATIONS #14): the reference's null_counter is
    re-created PER DOCUMENT inside the directory loop, and a registration
    only affects documents processed later — so its promotions depend on
    os.listdir order and per-doc mention counts.  That is nondeterministic
    under any parallel execution; we count over the WHOLE corpus and
    retro-link uniformly, which is deterministic and promotes a superset
    (any name reaching 5 in one document also reaches 5 corpus-wide)."""
    return (
        nil_queries.groupBy(F.col("ent_name").alias("name"), F.col("ent_type").alias("type"))
        .agg(F.count("*").alias("nil_count"))
        .filter(F.col("nil_count") >= TMPKB_PROMOTE_MIN)
        .select("name", "type")
        .withColumn("tmp_eid", _tmp_eid())
    )


def tmpkb_lookup(nil_queries: DataFrame, tmpkb: DataFrame) -> DataFrame:
    """J3 (linking.py:366-388): TemporaryKB.query is Lucene AND-of-terms
    retrieval over the registered names — a mention matches when EVERY
    mention token occurs among a registered name's tokens (so 'boeing'
    retrieves a promoted 'boeing 777'), NOT only on full-string equality;
    then type equality, confidence = edit-proximity normalized per mention.
    Tokens are derived from ent_name here (same tokenizer family as the
    StandardAnalyzer: split on non-alphanumerics, drop empties), so callers
    need only (url, mid, ent_name, ent_type)."""
    tok_expr = r"array_distinct(filter(split({col}, '[^\\p{{L}}\\p{{N}}]+'), t -> t != ''))"
    names = tmpkb.select(
        "tmp_eid", "name", "type",
        F.explode(F.expr(tok_expr.format(col="lower(name)"))).alias("n_tok"),
    )
    q = nil_queries.select(
        "url", "mid", "ent_name", "ent_type",
        F.explode(F.expr(tok_expr.format(col="ent_name"))).alias("q_tok"),
    ).withColumn("n_q", F.count("*").over(Window.partitionBy("mid")))
    hits = (
        q.join(
            F.broadcast(names),
            (F.col("q_tok") == F.col("n_tok")) & (F.col("type") == F.col("ent_type")),
        )
        # q tokens and name tokens are both distinct -> plain count gives
        # the number of DISTINCT matched query tokens (AND semantics)
        .groupBy("url", "mid", "ent_name", "n_q", "tmp_eid", "name")
        .agg(F.count("*").alias("n_matched"))
        .filter(F.col("n_matched") == F.col("n_q"))
    )
    edit = 1.0 / (F.abs(F.length("name") - F.length("ent_name")) + 1)
    # ordered frame for deterministic double accumulation (see disambiguate)
    w = Window.partitionBy("mid").orderBy("tmp_eid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = Window.partitionBy("mid").orderBy(F.col("confidence").desc(), F.col("tmp_eid").asc())
    return (
        hits.withColumn("raw_conf", edit)
        .withColumn("confidence", F.col("raw_conf") / F.sum("raw_conf").over(w))
        .withColumn("rank", F.row_number().over(w_rank))
        .select(
            "url", "mid",
            F.concat(F.lit("tmpkb:"), F.col("tmp_eid")).alias("eid"),
            F.col("name").alias("cname"), "confidence", "rank",
            # subcomponent 1 = tmp-KB lookup (linking.py:597-601); the
            # EntityLinker path (exact AND fuzzy) is 0, cluster-registered is 2
            F.lit(1).alias("subcomponent"),
        )
    )


# ------------------------------------------------------------------ full E2 plan

def link_mentions(mentions: DataFrame, kb: DataFrame, aliases: DataFrame,
                  promote: bool = True,
                  broadcast_index: bool | None = None,
                  prebuilt_alias_table: DataFrame | None = None) -> DataFrame:
    """Full E2: NAM mentions -> links (url, mid, eid, cname, confidence,
    rank, subcomponent).  subcomponent follows the reference encoding:
    0 = EntityLinker.query result, exact AND fuzzy (linking.py:564-568);
    1 = temporary-KB lookup (linking.py:597-601); 2 = cluster-registered
    entities (linking.py:662-666, emitted by canonicalize, not here).

    Two-phase NIL handling mirrors linking.py:309-336 + 442-479: fuzzy
    retries run only for mentions the exact pass left empty, with per-dist
    budget min(2, len(name)//5) (effective Lucene budget — see
    MAX_FUZZY_DIST); the temporary-KB pass runs only on what is still NIL
    after that.  Promotion order matches the reference (linking.py:466-475):
    NILs are looked up against the SEEDED tmp KB first, and only mentions
    that lookup cannot resolve count toward the >=5 promotion — otherwise a
    seeded name would be registered twice and split its confidence.
    """
    from ..session import materialize

    # alias_table fans out into several broadcast exchanges (token index,
    # variant index, attribute rejoin); without materialization every
    # broadcast job re-runs clean_kb's dedup window — checkpoint once
    # (dimension-scale: localCheckpoint is fine here).
    # ``prebuilt_alias_table`` lets a caller that already materialized the
    # table (e.g. kg_pipeline, which overlaps its build with the mention
    # discovery job — guide §2.6) hand it in instead of paying the 5-job
    # sequential build again here.
    if prebuilt_alias_table is not None:
        alias_table = prebuilt_alias_table
    else:
        alias_table = build_alias_table(clean_kb(kb), aliases).localCheckpoint()
    # queries feeds candidate gen, scoring, the NIL anti-join and the tmp-KB
    # lookups.  r07: localCheckpoint instead of the parquet materialize —
    # the frame is one narrow row per NAM mention (~100x smaller than the
    # data-scale frames the parquet spill exists for), so the in-memory
    # checkpoint truncates lineage for all 5 consumers at one small job
    # instead of a write+read pair; callers that pass an unmaterialized
    # mentions frame (tests, ad-hoc composition) also stay protected from
    # tagger re-derivation.
    queries = _nam_queries(mentions).localCheckpoint()

    cands = generate_candidates_unified(queries, alias_table, MAX_FUZZY_DIST,
                                        broadcast_index=broadcast_index)
    scored = materialize(
        disambiguate(score_candidates(cands, queries), queries), "scored"
    )
    kb_links = scored.select(
        "url", "mid",
        F.concat(F.lit("refkb:"), F.col("eid")).alias("eid"),
        "cname", "confidence", "rank",
        F.lit(0).alias("subcomponent"),
    )

    nil_queries = queries.join(scored.select("mid").distinct(), "mid", "left_anti")
    seed = tmpkb_seed(mentions.sparkSession)
    # the reference counts toward promotion only mentions STILL 'none' after
    # the tmpkb query (linking.py:466-470) — i.e. exclude every mention the
    # token-AND lookup retrieves, not just exact name matches
    seed_hit_mids = tmpkb_lookup(nil_queries, seed).select("mid").distinct()
    unresolved = nil_queries.join(seed_hit_mids, "mid", "left_anti")
    # ``promote=False`` = the --run_csr flavor: NILs are looked up against
    # the tmp KB but never count-promoted (linking.py:579-607 has no
    # null_counter; registration happens only via cluster election, A3).
    # A mention may retrieve BOTH a seed entry and a promoted one (Lucene
    # searches the whole tmp index); the per-mention normalization splits
    # confidence across them, as the reference's confsum does.
    tmpkb = seed.unionByName(promote_nils(unresolved)) if promote else seed
    tmp_links = tmpkb_lookup(nil_queries, tmpkb)

    return kb_links.unionByName(tmp_links)


def query_kb(spark, kb: DataFrame, aliases: DataFrame, queries: list,
             context: str = "") -> DataFrame:
    """``EntityLinker.query`` / the ``--query`` probe (linking.py:753-759)
    as a one-shot distributed call: every (name, type) pair behaves like a
    NAM mention carrying ``context`` as its sentence, and EVERY gated
    candidate comes back ranked (the REPL prints the full list, not top-1).

    Returns (q_name, q_type, eid, cname, confidence, rank, country, feature,
    wiki) — the KB attribute columns reproduce the ``info`` fields the
    reference prints per candidate (linking.py:788-806).  Bare types
    ("GPE") are prefixed to ldcOnt: like the REPL does."""
    rows = [
        (f"query://{i}", f"q{i}", "NAM", name,
         typ if typ.startswith("ldcOnt:") else "ldcOnt:" + typ, context)
        for i, (name, typ) in enumerate(queries)
    ]
    mentions = local_frame(
        spark, rows,
        "url string, mid string, category string, mention string, "
        "type string, sent_text string",
    )
    kbc = clean_kb(kb)
    alias_table = build_alias_table(kbc, aliases).localCheckpoint()
    q = _nam_queries(mentions)
    cands = generate_candidates_unified(q, alias_table, MAX_FUZZY_DIST)
    ranked = disambiguate(score_candidates(cands, q), q)
    return (
        ranked.join(mentions.select("mid", F.col("mention").alias("q_name"),
                                    F.col("type").alias("q_type")), "mid")
        .join(F.broadcast(kbc.select("eid", "country", "feature", "wiki")), "eid", "left")
        .select("q_name", "q_type", "eid", "cname", "confidence", "rank",
                "country", "feature", "wiki")
    )


def audit_map_file(spark, kb: DataFrame, aliases: DataFrame, path: str) -> DataFrame:
    """The ``--map_file`` audit (linking.py:769-807): link a CSV of known
    (name, concept) pairs and return every candidate per name for
    eyeballing.  Faithful quirks: only rows whose first field is 'L' count,
    name/concept drop their first character (the reference strips a quote
    byte), and the entity type comes from the FILENAME ('named_gpe' -> GPE,
    'named_people' -> PER).  One distributed linking job for the whole file
    instead of the reference's per-row sequential loop."""
    import csv
    import os

    fname = os.path.basename(path)
    if "named_gpe" in fname:
        enttype = "GPE"
    elif "named_people" in fname:
        enttype = "PER"
    else:
        raise ValueError("map file name must contain 'named_gpe' or 'named_people'"
                         " (linking.py:772-776 derives the type from it)")
    pairs = []
    with open(path, newline="", encoding="utf-8") as f:
        for row in csv.reader(f):
            if not row or row[0] != "L":
                continue
            pairs.append((row[1][1:], row[2][1:]))
    if not pairs:
        return local_frame(
            spark, [], "q_name string, concept string, eid string, cname string, "
                "confidence double, rank int, country string, feature string, wiki string")
    # query each DISTINCT name once: duplicate names in the file would
    # otherwise create duplicate query mids and the q_name join below would
    # cross-multiply candidate sets (2 mids x 2 concept rows = 4 copies)
    names = sorted({n for n, _ in pairs})
    result = query_kb(spark, kb, aliases, [(n, enttype) for n in names])
    concepts = local_frame(spark, pairs, "q_name string, concept string")
    # left join FROM concepts: every map row appears even when no candidate
    # matched (the broadcast hint belongs on the joined side — on the
    # preserved side of an outer join Spark ignores it)
    return (
        concepts.join(F.broadcast(result), "q_name", "left")
        .select("q_name", "concept", "eid", "cname", "confidence", "rank",
                "country", "feature", "wiki")
    )


def query_tmpkb(spark, queries: list, tmpkb: DataFrame | None = None) -> DataFrame:
    """The ``--query_tmp`` probe (linking.py:760-768): TemporaryKB.query for
    (name, type) pairs.  Types are the three-letter coarse codes here (the
    tmp KB stores type3, linking.py:345-352); defaults to the seeded tmp KB
    (MH17 / T-34) when no tmp-KB frame is supplied."""
    tmpkb = tmpkb if tmpkb is not None else tmpkb_seed(spark)
    rows = [(f"query://{i}", f"q{i}", name.lower(), typ, [""])
            for i, (name, typ) in enumerate(queries)]
    nil_queries = local_frame(
        spark, rows, "url string, mid string, ent_name string, ent_type string, "
              "ctx_tokens array<string>",
    )
    names = local_frame(
        spark, [(f"q{i}", n, t) for i, (n, t) in enumerate(queries)],
        "mid string, q_name string, q_type string",
    )
    return (
        tmpkb_lookup(nil_queries, tmpkb)
        .join(F.broadcast(names), "mid")
        .select("q_name", "q_type", "eid", "cname", "confidence", "rank")
    )


def link_mentions_resumable(spark, mentions: DataFrame, kb: DataFrame,
                            aliases: DataFrame, out_dir: str, lineage_dir: str,
                            n_buckets: int = 16, promote: bool = True,
                            broadcast_index: bool | None = None) -> DataFrame:
    """link_mentions with a bucket-resumable KB phase (north_rule resume).

    The expensive part of linking — candidate generation + scoring + ranking
    — is per-mention independent, so it runs through plans.lineage.run_stage
    on url-hash buckets: a killed job resumes by skipping completed buckets
    and overwriting only recomputed partitions.  NIL detection is also
    per-mention (no gated candidate), but the PROMOTION threshold counts
    still-NIL mentions across the whole corpus (our deliberate,
    deterministic generalization of the reference's per-document,
    listdir-order-dependent counter — DEVIATIONS #14), so the
    NIL tail is recomputed globally on every run — it is an anti-join plus
    a groupBy over the small NIL remainder, cheap relative to the KB phase.
    Output is row-identical to link_mentions on the same inputs.
    """
    from ..plans.lineage import run_stage
    from ..session import materialize

    alias_table = build_alias_table(clean_kb(kb), aliases).localCheckpoint()

    def kb_phase(m_subset: DataFrame) -> DataFrame:
        q = materialize(_nam_queries(m_subset), "queries")
        cands = generate_candidates_unified(q, alias_table, MAX_FUZZY_DIST,
                                            broadcast_index=broadcast_index)
        scored = disambiguate(score_candidates(cands, q), q)
        return scored.select(
            "url", "mid",
            F.concat(F.lit("refkb:"), F.col("eid")).alias("eid"),
            "cname", "confidence", "rank",
            F.lit(0).alias("subcomponent"),
        )

    kb_links = run_stage(spark, mentions, "kb_links", kb_phase,
                         out_dir, lineage_dir, n_buckets).drop("bucket")

    # materialize: the NIL tail fans this into the kb_links anti-join, the
    # seed anti-join, promote_nils, and tmpkb_lookup — unmaterialized, each
    # consumer re-derives the full mentions plan (a mapInPandas NER pass
    # when the caller hands the discovery frame in directly)
    queries = materialize(_nam_queries(mentions), "queries-nil")
    nil_queries = queries.join(kb_links.select("mid").distinct(), "mid", "left_anti")
    seed = tmpkb_seed(spark)
    # token-AND retrieval decides who still counts toward promotion — same
    # as link_mentions (the reference's tmpkb.query-then-count order)
    seed_hit_mids = tmpkb_lookup(nil_queries, seed).select("mid").distinct()
    unresolved = nil_queries.join(seed_hit_mids, "mid", "left_anti")
    tmpkb = seed.unionByName(promote_nils(unresolved)) if promote else seed
    tmp_links = tmpkb_lookup(nil_queries, tmpkb)
    return kb_links.unionByName(tmp_links)
