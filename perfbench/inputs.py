"""Seeded input generators for the benchmark workloads.

Every function is a pure function of its seed and size: the same seed gives
byte-identical inputs.  The program under test only ever sees the files
written here; the planted labels stay on the benchmark side and are used to
check the program's outputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

from named_entity_discovery_and_linking_spark.fixtures import generator as G

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
_BASE_TS = dt.datetime(2014, 7, 1, tzinfo=dt.timezone.utc)
_SYL = ["ka", "lo", "mer", "vin", "sta", "dro", "pel", "qui", "zan", "tor",
        "bel", "nis", "ro", "ga", "fen", "mu", "sha", "lek", "dov", "ar"]
_STOP = ["the", "a", "and", "of", "to", "in", "is"]


def _words(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words (no KB name, no stopword)."""
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4))))
    return sorted(out)


def _line(rng: random.Random, vocab: list[str], n_words: int) -> str:
    """One prose line: pseudo-words with a stopword every few words."""
    toks = []
    for i in range(n_words):
        toks.append(rng.choice(_STOP) if i % 4 == 1 else rng.choice(vocab))
    return " ".join(toks)


def write_pages(rows: list[dict], path: str) -> None:
    cols = {f.name: [r.get(f.name) for r in rows] for f in PAGES_SCHEMA}
    pq.write_table(pa.table(cols, schema=PAGES_SCHEMA), path)


# --------------------------------------------------------------- kg pages

def dense_pages(seed: int, n_pages: int) -> list[dict]:
    """Entity-dense news pages: the fixture generator's templates, so most
    tokens are KB names and linking dominates the job."""
    return G.make_pages(seed, n_pages)


def sparse_pages(seed: int, n_pages: int) -> list[dict]:
    """Long entity-sparse pages: ~9 KB of prose plus one entity sentence,
    under the tagger's 10,000-char truncation, so tagging dominates."""
    rng = random.Random(seed)
    vocab = _words(rng, 3000)
    pers = [n.title() for n, _ in G.GAZ_PER]
    cities = [n.title() for n, _ in G.GAZ_CITY]
    orgs = [o.title() for o in G.GAZ_ORG]
    rows = []
    for i in range(n_pages):
        sents = []
        size = 0
        while size < 9000:
            s = _line(rng, vocab, rng.randint(8, 16)) + " ."
            sents.append(s)
            size += len(s) + 1
        sents.insert(rng.randrange(len(sents)),
                     f"{rng.choice(pers)} met the {rng.choice(orgs)} in "
                     f"{rng.choice(cities)} .")
        text = " ".join(sents)
        rows.append({
            "url": f"https://site{rng.randrange(40)}.example.org/longform/{i:06d}",
            "warc_ts": _BASE_TS + dt.timedelta(seconds=i * 37),
            "html": None, "text": text, "lang": "eng",
        })
    return rows


# --------------------------------------------------------------------- KB

def kb_rows(seed: int, n_extra: int):
    """(entities, aliases): the fixture KB plus ``n_extra`` generated
    entities shaped like real LORELEI rows.  A third of the generated PER/ORG
    rows have an empty bio, and some names repeat across eids, as in real
    KBs; those are the rows the probe REPL's tie-breaking meets."""
    ents, aliases = G._mk_kb(random.Random(42 + 1))  # the fixture KB, as kb_dfs(spark)
    ents, aliases = list(ents), list(aliases)
    rng = random.Random(seed * 7919 + 1)
    # small name pools: common names repeat across eids, as in real KBs
    first = [w.capitalize() for w in _words(rng, 80)]
    last = [w.capitalize() + rng.choice(["enko", "ov", "sky", "uk", "in"]) for w in _words(rng, 150)]
    bios = ["politician", "general", "minister", "journalist", "Ukraine",
            "Russia", "army", "parliament", "businessman", "Kyiv", "Moscow"]
    for i in range(n_extra):
        eid = f"X{i:07d}"
        kind = rng.random()
        if kind < 0.45:
            name = f"{rng.choice(first)} {rng.choice(last)}"
            bio = "" if rng.random() < 1 / 3 else " ".join(rng.sample(bios, 3))
            ents.append(("WLL", "PER", eid, name, bio, "", ""))
        elif kind < 0.65:
            name = f"{rng.choice(last)} {rng.choice(['Group', 'Council', 'Agency', 'Union'])}"
            bio = "" if rng.random() < 1 / 3 else " ".join(rng.sample(bios, 2))
            ents.append(("APB", "ORG", eid, name, bio, "", ""))
        else:
            name = rng.choice(last).replace("enko", "ivka").replace("sky", "sk")
            wiki = f"https://wiki/{name}" if rng.random() < 0.3 else ""
            ents.append(("GEO", "GPE", eid, name, rng.choice(["UA", "RU", "US", "PL"]),
                         rng.choice(["city,village,...", "country,state,region,..."]), wiki))
        if rng.random() < 0.1:
            aliases.append((eid, name.split(" ")[-1]))
    return ents, aliases


def write_kb(ents, aliases, entities_path: str, aliases_path: str) -> None:
    """entities.tab / alternate_names.tab in the column layout
    ``sources.kb_tsv`` reads (47 tab columns, header line)."""
    with open(entities_path, "w", encoding="utf-8") as fh:
        fh.write("\t".join(f"c{i}" for i in range(47)) + "\n")
        for src, typ, eid, name, info, feature, wiki in ents:
            row = [""] * 47
            row[0], row[1], row[2], row[3] = src, typ, eid, name
            if src == "GEO":
                row[8], row[12], row[46] = feature, info, wiki
            elif src == "WLL":
                row[26] = info
            elif src == "APB":
                row[35] = info
            fh.write("\t".join(row) + "\n")
    with open(aliases_path, "w", encoding="utf-8") as fh:
        fh.write("eid\talias\n")
        for eid, alias in aliases:
            fh.write(f"{eid}\t{alias}\n")


def probe_batches(seed: int, ents, n_calls: int) -> list[list[tuple[str, str]]]:
    """``n_calls`` probe REPL calls of 1-3 (name, type) pairs: mostly exact
    KB names, some with one character dropped (the fuzzy path)."""
    rng = random.Random(seed * 104729 + 3)
    named = [(e[3], e[1]) for e in ents if e[1] in ("PER", "ORG", "GPE")]
    calls = []
    for _ in range(n_calls):
        call = []
        for _ in range(rng.randint(1, 3)):
            name, typ = rng.choice(named)
            if rng.random() < 0.25 and len(name) > 6:
                k = rng.randrange(1, len(name) - 1)
                name = name[:k] + name[k + 1:]
            call.append((name, typ))
        calls.append(call)
    return calls


# ------------------------------------------------------------ curate docs

_BOILERPLATE = [
    "subscribe to the newsletter and follow us in the feed",
    "all rights reserved and the terms of use apply to a reader",
    "share this story in a message to the editors of the site",
    "cookies help us to deliver the service and a better page",
]
SAMPLE_RATE = 0.9


def _hash_kept(doc_id: int, rate: float, seed: int = 11) -> bool:
    """``operators.sampling.hash_sample``'s decision, recomputed here."""
    h = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:15], 16)
    return h % 1_000_000 < int(round(rate * 1_000_000))


def _gopher_keep(text: str) -> bool:
    """``operators.textstats.gopher_filter`` with its defaults."""
    toks = text.split(" ")
    n = len(toks)
    chars = len(text.replace(" ", ""))
    return (20 <= n <= 80 and 3 * n <= chars <= 10 * n
            and sum(t in _STOP for t in toks) >= 2
            and len(set(toks)) * 100 >= n * 40)


def _shingles(text: str, n: int) -> set[str]:
    toks = text.split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def benchmark_items(seed: int) -> list[tuple[str, str]]:
    """Eval items (bench_id, text) for ``--benchmark``: 14 words each from a
    vocabulary the docs never use, so only planted quotes overlap them."""
    rng = random.Random(seed + 99)
    vocab = [w + "x" for w in _words(rng, 500)]
    return [(f"b{i}", " ".join(rng.choice(vocab) for _ in range(14))) for i in range(400)]


def curate_docs(seed: int, n_docs: int, bench: list[tuple[str, str]]):
    """(docs, labels) for the ``--curate`` job.

    Planted defects, each on its own documents: recrawls of one url with
    url variants and older timestamps, shared boilerplate lines, short or
    repetitive low-quality docs, exact and near duplicates of other docs,
    and docs quoting a benchmark item.  ``labels`` maps doc_id to the stage
    that must drop it ('url', 'gopher', 'dedup', 'decontam', 'sample') or
    'kept', and to the number of boilerplate lines line dedup must cut."""
    rng = random.Random(seed * 31 + 5)
    vocab = _words(rng, 4000)
    docs = []  # dicts: doc_id, url, ts, lines, kind, base

    def body(n_lines):
        return [_line(rng, vocab, rng.randint(7, 11)) for _ in range(n_lines)]

    def add(url, lines, kind, base=None, ts=None):
        i = len(docs)
        docs.append({"doc_id": i, "url": url, "lines": lines, "kind": kind,
                     "base": base, "ts": ts if ts is not None else 10_000 + i})
        return i

    n_base = int(n_docs * 0.72)
    # fixed shares per defect, so every seed gives the same amount of work
    kinds = ["boiler"] * (n_base * 25 // 100) + ["lowq"] * (n_base * 7 // 100) \
        + ["contam"] * (n_base * 6 // 100)
    kinds += ["plain"] * (n_base - len(kinds))
    rng.shuffle(kinds)
    n_contam = 0
    for i, kind in enumerate(kinds):
        lines = body(rng.randint(4, 6))
        if kind == "boiler":  # site boilerplate, cut by line dedup
            for b in rng.sample(_BOILERPLATE, rng.randint(1, 2)):
                lines.insert(rng.randrange(len(lines) + 1), b)
        elif kind == "lowq":  # too short, or one phrase repeated
            lines = (body(1)[:1] if rng.random() < 0.5
                     else [" ".join(["buy the best deal now"] * 8)])
        elif kind == "contam":  # quotes ten words of its own benchmark item mid-line
            item = bench[n_contam % len(bench)][1].split(" ")
            n_contam += 1
            k = rng.randrange(len(item) - 9)
            lines[rng.randrange(len(lines))] = " ".join(
                [rng.choice(vocab) for _ in range(3)] + item[k:k + 10] + [rng.choice(vocab)])
        add(f"https://site{i % 50}.example.org/a/{i:06d}", lines, kind)
    plain = [d for d in docs if d["kind"] == "plain"]
    rng.shuffle(plain)
    n_extra = n_docs - len(docs)
    variants = ["https://WWW.SITE{s}.example.org/a/{p}/", "{u}#comments",
                "{u}?utm_source=feed", "{u}/"]
    for k in range(n_extra):
        base = plain[k]  # each base doc gets at most one derived copy
        bid = base["doc_id"]
        r = k % 4
        if r == 0:  # older crawl of the same page under a url variant
            s, p = base["url"].split("site")[1].split(".")[0], base["url"].rsplit("/", 1)[1]
            url = rng.choice(variants).format(u=base["url"], s=s, p=p)
            add(url, list(base["lines"]), "recrawl", bid, ts=base["ts"] - 5_000)
        elif r == 1:  # exact copy on another site
            add(f"https://mirror{k % 7}.example.net/{k}", list(base["lines"]), "exact", bid)
        else:  # near copy: one word changed
            lines = list(base["lines"])
            j = rng.randrange(len(lines))
            toks = lines[j].split(" ")
            toks[0] = rng.choice(vocab)
            lines[j] = " ".join(toks)
            add(f"https://mirror{k % 7}.example.net/n{k}", lines, "near", bid)
    return docs, _expected_funnel(docs, bench)


def _expected_funnel(docs, bench) -> dict[int, tuple[str, int]]:
    """The drop stage and boilerplate-line cut each doc must get, from the
    planted structure plus the stage rules recomputed on the planted text."""
    by_id = {d["doc_id"]: d for d in docs}
    labels: dict[int, tuple[str, int]] = {}
    alive = []
    for d in docs:  # url stage: the base (newer crawl) survives its recrawl
        if d["kind"] == "recrawl":
            labels[d["doc_id"]] = ("url", -1)
        else:
            alive.append(d)
    line_df: dict[str, int] = {}
    for d in alive:
        for ln in set(d["lines"]):
            line_df[ln] = line_df.get(ln, 0) + 1
    clean = {}
    for d in alive:
        kept = [ln for ln in d["lines"] if line_df[ln] <= 2]
        clean[d["doc_id"]] = ("\n".join(kept), len(d["lines"]) - len(kept))
    survivors = []
    for d in alive:
        text, cut = clean[d["doc_id"]]
        if not _gopher_keep(text):
            labels[d["doc_id"]] = ("gopher", cut)
        else:
            survivors.append(d["doc_id"])
    # dedup: a copy folds into its base when the base also reached dedup
    # and the copy is identical or 3-shingle Jaccard >= 0.6
    surv = set(survivors)
    for i in survivors:
        d = by_id[i]
        if d["kind"] in ("exact", "near") and d["base"] in surv:
            a, b = _shingles(clean[i][0], 3), _shingles(clean[d["base"]][0], 3)
            if clean[i][0] == clean[d["base"]][0] or len(a & b) / len(a | b) >= 0.6:
                labels[i] = ("dedup", clean[i][1])
    bench_sh = set().union(*(_shingles(t, 8) for _, t in bench))
    for i in survivors:
        if i in labels:
            continue
        text, cut = clean[i]
        if _shingles(text, 8) & bench_sh:
            labels[i] = ("decontam", cut)
        elif not _hash_kept(i, SAMPLE_RATE):
            labels[i] = ("sample", cut)
        else:
            labels[i] = ("kept", cut)
    return labels


def write_docs(docs, path: str) -> None:
    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "url": [d["url"] for d in docs],
        "warc_ts": pa.array([_BASE_TS + dt.timedelta(seconds=d["ts"]) for d in docs],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([None] * len(docs), pa.binary()),
        "text": ["\n".join(d["lines"]) for d in docs],
        "lang": ["eng"] * len(docs),
    })
    order = sorted(range(len(docs)), key=lambda i: hashlib.md5(str(i).encode()).digest())
    pq.write_table(table.take(order), path)


def write_benchmark(bench, path: str) -> None:
    pq.write_table(pa.table({"bench_id": [b for b, _ in bench],
                             "text": [t for _, t in bench]}), path)
