"""Deterministic synthetic corpora per FIXTURES.md.

Pure functions of (seed, scale): no wall clock, no unseeded randomness.
Shapes mirror the reference's inputs normalized into Spark tables:

- pages        : BASELINE.json input_hint (url, warc_ts, html, text, lang);
                 one hot domain (~30% of rows) to exercise skew salting.
- kb_entities  : entities.tab columns used at linking.py:46-68 (src, type,
                 eid, name, country, feature, wiki).
- kb_aliases   : alternate_names.tab (linking.py:70-75).
- gazetteers   : per/city/org/title/geo lists (gazetteer.py:1-51).
- ontology     : LDC entity-type ids + nist keyword overrides + wordnet
                 lemma typing table (main.py:17-61, wordnet.py:107-252).

All data below is invented for the fixture (a handful of public place names
are used so GEO scoring branches like RU/UA vs US/CA are meaningful).
"""

from __future__ import annotations

import datetime as _dt
import random

from ..session import local_frame

# ---------------------------------------------------------------- dimension data

# (name, fine ldcOnt id). Invented names; types follow the LDC AIDA ontology
# id shape `ldcOnt:TYPE.Subtype.Subsubtype` (main.py:17-23).
GAZ_PER = [
    ("viktor marchenko", "ldcOnt:PER.Politician"),
    ("olena kovalenko", "ldcOnt:PER.Politician"),
    ("dmitri volkov", "ldcOnt:PER.MilitaryPersonnel"),
    ("andriy shevchuk", "ldcOnt:PER.Combatant"),
    ("sergei lebedev", "ldcOnt:PER.Politician"),
    ("iryna bondarenko", "ldcOnt:PER.ProfessionalPosition"),
    ("pavel sokolov", "ldcOnt:PER.MilitaryPersonnel"),
    ("natalia kravets", "ldcOnt:PER.Politician"),
]

GAZ_CITY = [
    ("kyiv", "ldcOnt:GPE.UrbanArea.City"),
    ("moscow", "ldcOnt:GPE.UrbanArea.City"),
    ("donetsk", "ldcOnt:GPE.UrbanArea.City"),
    ("luhansk", "ldcOnt:GPE.UrbanArea.City"),
    ("kharkiv", "ldcOnt:GPE.UrbanArea.City"),
    ("mariupol", "ldcOnt:GPE.UrbanArea.City"),
    ("odessa", "ldcOnt:GPE.UrbanArea.City"),
    ("slovyansk", "ldcOnt:GPE.UrbanArea.City"),
]

GAZ_ORG = [
    "ministry of defense",
    "national security council",
    "red cross",
    "osce monitoring mission",
    "people's militia",
    "border guard service",
]

GAZ_TITLES = [
    "president",
    "prime minister",
    "colonel",
    "general",
    "spokesman",
    "minister",
    "deputy minister",
    "press secretary",
]

COUNTRIES = ["russia", "ukraine", "belarus", "moldova", "georgia"]
WEAPONS = ["buk", "9m38", "missile", "grad", "howitzer", "rpg"]
LOCATIONS = ["euromaidan", "donbas", "crimea"]

# wordnet lemma -> (type, subtype, subsubtype); mirrors the precomputed
# closure of wordnet.py:107-252 for nominal typing (X7).
WORDNET_TYPES = [
    ("soldier", "PER", "Combatant", "n/a"),
    ("soldiers", "PER", "Combatant", "n/a"),
    ("government", "ORG", "Government", "n/a"),
    ("ministry", "ORG", "Government", "Agency"),
    ("army", "ORG", "MilitaryOrganization", "n/a"),
    ("militia", "ORG", "MilitaryOrganization", "n/a"),
    ("city", "GPE", "UrbanArea", "City"),
    ("village", "GPE", "UrbanArea", "Village"),
    ("country", "GPE", "Country", "Country"),
    ("truck", "VEH", "WheeledVehicle", "Truck"),
    ("tank", "VEH", "MilitaryVehicle", "Tank"),
    ("rocket", "WEA", "MissileSystem", "Missile"),
    ("airport", "FAC", "Installation", "Airport"),
    ("bridge", "FAC", "Structure", "Bridge"),
    ("spokesman", "PER", "ProfessionalPosition", "Spokesperson"),
    ("commander", "PER", "MilitaryPersonnel", "n/a"),
    ("president", "PER", "Politician", "HeadOfGovernment"),
    ("protester", "PER", "Protester", "n/a"),
    ("protesters", "PER", "Protester", "n/a"),
]

# LDC ontology entity-type ids (X5 normalization targets, main.py:17-23).
LDC_ENTITY_TYPES = [
    "ldcOnt:PER",
    "ldcOnt:PER.Politician",
    "ldcOnt:PER.Politician.HeadOfGovernment",
    "ldcOnt:PER.MilitaryPersonnel",
    "ldcOnt:PER.Combatant",
    "ldcOnt:PER.Combatant.Sniper",
    "ldcOnt:PER.ProfessionalPosition",
    "ldcOnt:PER.ProfessionalPosition.Spokesperson",
    "ldcOnt:PER.Protester",
    "ldcOnt:ORG",
    "ldcOnt:ORG.Government",
    "ldcOnt:ORG.Government.Agency",
    "ldcOnt:ORG.MilitaryOrganization",
    "ldcOnt:ORG.PoliticalOrganization.Party",
    "ldcOnt:ORG.CommercialOrganization",
    "ldcOnt:GPE",
    "ldcOnt:GPE.Country.Country",
    "ldcOnt:GPE.UrbanArea.City",
    "ldcOnt:GPE.UrbanArea.Village",
    "ldcOnt:GPE.ProvinceState.State",
    "ldcOnt:LOC",
    "ldcOnt:LOC.Land.Continent",
    "ldcOnt:LOC.Position.Region",
    "ldcOnt:FAC",
    "ldcOnt:FAC.Installation.Airport",
    "ldcOnt:FAC.Structure.Bridge",
    "ldcOnt:FAC.Building.GovernmentBuilding",
    "ldcOnt:VEH",
    "ldcOnt:VEH.WheeledVehicle.Truck",
    "ldcOnt:VEH.MilitaryVehicle.Tank",
    "ldcOnt:VEH.Aircraft.Airplane",
    "ldcOnt:WEA",
    "ldcOnt:WEA.MissileSystem.Missile",
    "ldcOnt:WEA.Gun.Artillery",
    "ldcOnt:VAL",
    "ldcOnt:VAL.Number.Number",
    "ldcOnt:VAL.Time.Time",
    "ldcOnt:VAL.URL.URL",
    "ldcOnt:TTL",
    "ldcOnt:TTL.Title.Title",
]

# keyword -> ont id overrides (main.py:38-61 builds nist_key the same way).
NIST_KEY = {
    "police": "ldcOnt:ORG.Government.Agency",
    "politician": "ldcOnt:PER.Politician",
    "force": "ldcOnt:ORG.MilitaryOrganization",
    "forces": "ldcOnt:ORG.MilitaryOrganization",
    "soldiers": "ldcOnt:PER.Combatant",
    "sniper": "ldcOnt:PER.Combatant.Sniper",
}

# type -> allowed subtypes (ner.py:253-271 SUBTYPE_HIERARCHY).
SUBTYPE_HIERARCHY = {
    "PER": ["Politician", "MilitaryPersonnel", "Combatant", "ProfessionalPosition", "Protester"],
    "ORG": ["Government", "MilitaryOrganization", "PoliticalOrganization", "CommercialOrganization"],
    "GPE": ["Country", "UrbanArea", "ProvinceState"],
    "LOC": ["Land", "Position"],
    "FAC": ["Installation", "Structure", "Building"],
    "VEH": ["WheeledVehicle", "MilitaryVehicle", "Aircraft"],
    "WEA": ["MissileSystem", "Gun"],
}

# POS-lite adjective lexicon for the NP chunker (CoreNLP JJ stand-in).
ADJECTIVES = [
    "rebel", "military", "armed", "eastern", "western", "local", "former",
    "senior", "humanitarian", "separatist", "heavy", "civilian", "national",
]

STOPWORDS = {
    "a", "an", "the", "and", "or", "of", "in", "on", "at", "to", "for",
    "with", "by", "from", "near", "that", "this", "these", "those", "is",
    "are", "was", "were", "said", "has", "have", "had", "will", "its",
    "his", "her", "their", "our", "it", "he", "she", "they", "we", "not",
}


def _mk_kb(rng: random.Random):
    """kb_entities + kb_aliases rows. Covers every scoring branch of
    linking.py:150-213: ambiguous same-name clusters across country/feature/
    wiki, shared-token names for AND-semantics, edit-distance-1..3 near
    misses for the fuzzy path, and unlinkable names for the tmp-KB path."""
    ents = []
    aliases = []
    eid_n = 0

    def add(src, etype, name, country="", feature="", wiki="", alias_list=()):
        nonlocal eid_n
        eid = f"E{eid_n:07d}"
        eid_n += 1
        ents.append((src, etype, eid, name, country, feature, wiki))
        for a in alias_list:
            aliases.append((eid, a))
        return eid

    # GPE clusters: same surface name, different countries/features/wiki.
    add("GEO", "GPE", "Kyiv", "UA", "city,village,...", "https://wiki/Kyiv",
        alias_list=["Kiev", "Kyyiv"])
    add("GEO", "GPE", "Moscow", "RU", "city,village,...", "https://wiki/Moscow",
        alias_list=["Moskva"])
    add("GEO", "GPE", "Moscow", "US", "city,village,...", "")  # Moscow, Idaho
    add("GEO", "GPE", "Odessa", "UA", "city,village,...", "https://wiki/Odessa",
        alias_list=["Odesa"])
    add("GEO", "GPE", "Odessa", "US", "city,village,...", "https://wiki/Odessa_TX")
    add("GEO", "GPE", "Odessa", "CA", "city,village,...", "")
    add("GEO", "GPE", "Russia", "RU", "country,state,region,...", "https://wiki/Russia",
        alias_list=["Russian Federation"])
    add("GEO", "GPE", "Ukraine", "UA", "country,state,region,...", "https://wiki/Ukraine")
    add("GEO", "GPE", "Donetsk", "UA", "city,village,...", "https://wiki/Donetsk",
        alias_list=["Donetsk City"])
    add("GEO", "GPE", "Donetsk Oblast", "UA", "country,state,region,...",
        "https://wiki/Donetsk_Oblast")
    add("GEO", "GPE", "Luhansk", "UA", "city,village,...", "https://wiki/Luhansk",
        alias_list=["Lugansk"])
    add("GEO", "GPE", "Kharkiv", "UA", "city,village,...", "https://wiki/Kharkiv",
        alias_list=["Kharkov"])
    add("GEO", "GPE", "Mariupol", "UA", "city,village,...", "https://wiki/Mariupol")
    add("GEO", "GPE", "Slovyansk", "UA", "city,village,...", "",
        alias_list=["Slaviansk", "Sloviansk"])
    add("GEO", "LOC", "Donbas", "UA", "country,state,region,...", "https://wiki/Donbas",
        alias_list=["Donbass"])
    add("GEO", "LOC", "Crimea", "UA", "country,state,region,...", "https://wiki/Crimea")
    # near-miss spellings for fuzzy retries (edit distance 1-3)
    add("GEO", "GPE", "Kramatorsk", "UA", "city,village,...", "")
    add("GEO", "GPE", "Horlivka", "UA", "city,village,...", "", alias_list=["Gorlovka"])

    # PER entities (WLL src): info columns drive IoU context scoring.
    add("WLL", "PER", "Viktor Marchenko", "politician Ukraine Kyiv", "", "",
        alias_list=["V. Marchenko", "Marchenko"])
    add("WLL", "PER", "Viktor Marchenko", "businessman United States", "", "")
    add("WLL", "PER", "Olena Kovalenko", "politician Ukraine parliament", "", "",
        alias_list=["Kovalenko"])
    add("WLL", "PER", "Dmitri Volkov", "general Russia army", "", "",
        alias_list=["D. Volkov", "Volkov"])
    add("WLL", "PER", "Sergei Lebedev", "minister Russia Moscow", "", "")
    add("WLL", "PER", "Pavel Sokolov", "colonel Russia", "", "",
        alias_list=["Sokolov"])
    add("WLL", "PER", "Iryna Bondarenko", "spokesman Ukraine ministry", "", "")
    add("WLL", "PER", "Natalia Kravets", "politician Ukraine", "", "")

    # ORG entities (APB src).
    add("APB", "ORG", "Ministry of Defense", "ministry defense Ukraine Kyiv", "", "",
        alias_list=["Defense Ministry"])
    add("APB", "ORG", "Ministry of Defense", "ministry defense Russia Moscow", "", "")
    add("APB", "ORG", "National Security Council", "security council Ukraine", "", "")
    add("APB", "ORG", "Red Cross", "humanitarian organization", "", "",
        alias_list=["International Red Cross"])
    add("APB", "ORG", "OSCE Monitoring Mission", "monitors Ukraine ceasefire", "", "",
        alias_list=["OSCE"])
    add("APB", "ORG", "Border Guard Service", "border guards Ukraine", "", "")
    add("APB", "ORG", "People's Militia", "armed group Donetsk", "", "")

    # filler rows to reach ~300 entities: generated villages (some non-RU/UA
    # with empty wiki -> dropped by SRC6 cleaning; keep determinism via rng).
    syllables = ["novo", "stare", "verk", "niko", "petro", "alek", "mir", "bor",
                 "zale", "kras", "bila", "zoló", "hryn", "vol", "dor", "luka"]
    for i in range(240):
        name = (rng.choice(syllables) + rng.choice(syllables) + rng.choice(
            ["sk", "vka", "pol", "grad", "ne", "chi"])).capitalize()
        country = rng.choice(["UA", "RU", "US", "CA", "PL", "DE"])
        wiki = f"https://wiki/{name}" if rng.random() < 0.3 else ""
        add("GEO", "GPE", name, country, "city,village,...", wiki)
    # duplicate-eid rows exercise SRC6 dedup: re-emit an early row verbatim.
    ents.append(ents[0])
    return ents, aliases


_TEMPLATES = [
    "{per} said that {org} will monitor the situation in {city} .",
    "{title} {per} visited {city} on Monday and met {per2} .",
    "Fighting near {city} intensified as {org} reported shelling from {wea} systems .",
    "The government of {country} denied that {org} crossed the border near {city} .",
    "{per} , the {title} of {country} , announced new talks in {city} .",
    "Protesters gathered at {loc} while soldiers from {org} watched .",
    "A convoy of trucks reached {city} at 14:30 on 2014-07-17 carrying 12 tons of aid .",
    "{org} estimated that 25% of the bridge near {city} was destroyed .",
    "Details were posted at http://news.example.com/{slug}%20report .",
    "{per2} told reporters in {city} that the army moved 40 tanks toward {loc} .",
]

HOT_DOMAIN = "hot.example.com"


def make_pages(seed: int = 42, n_pages: int = 200) -> list[dict]:
    """Deterministic pages rows (url, warc_ts, html, text, lang).

    ~30%% of urls on one hot domain (skew); ~10%% non-eng (filtered, F1);
    one doc with >200 sentences and one with >10,000 chars (truncation);
    ``%20`` sequences and alnum-final sentences (reconstruction quirks).
    """
    rng = random.Random(seed)
    pers = [n.title() for n, _ in GAZ_PER]
    cities = [n.title() for n, _ in GAZ_CITY]
    orgs = [o.title() for o in GAZ_ORG]
    titles = GAZ_TITLES
    base_ts = _dt.datetime(2014, 7, 1, tzinfo=_dt.timezone.utc)

    rows = []
    for i in range(n_pages):
        domain = HOT_DOMAIN if rng.random() < 0.30 else f"site{rng.randrange(40)}.example.org"
        url = f"https://{domain}/article/{i:06d}"
        lang = "eng" if rng.random() >= 0.10 else rng.choice(["rus", "ukr"])
        n_sents = rng.randrange(3, 9)
        if i == 7:
            n_sents = 230  # > MAX_DOC_SENTS -> truncation
        sents = []
        for _ in range(n_sents):
            t = rng.choice(_TEMPLATES)
            sents.append(
                t.format(
                    per=rng.choice(pers), per2=rng.choice(pers),
                    org=rng.choice(orgs), city=rng.choice(cities),
                    title=rng.choice(titles), country=rng.choice(["Russia", "Ukraine"]),
                    wea=rng.choice(["Buk", "Grad"]), loc=rng.choice(["Euromaidan", "Donbas", "Crimea"]),
                    slug=f"s{i}",
                )
            )
        if i == 11:
            sents = [("long sentence " * 400).strip() + " ."] * 5  # > MAX_DOC_CHARS
        # repeated unlinkable entity across >=5 docs -> tmp-KB promotion (A1)
        if i % 17 == 0:
            sents.append("Commander Zorylenko inspected the checkpoint .")
        text = " ".join(sents)
        html = (
            "<html><head><title>doc</title><script>var x=1;</script></head>"
            "<body>" + "".join(f"<p>{s}</p>" for s in sents) + "</body></html>"
        ).encode("utf-8")
        rows.append(
            {
                "url": url,
                "warc_ts": base_ts + _dt.timedelta(seconds=i * 37),
                "html": html,
                "text": text,
                "lang": lang,
            }
        )
    return rows


def pages_df(spark, seed: int = 42, n_pages: int = 200):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    # size hidden: the fixture pages stand in for a crawl
    return local_frame(spark, make_pages(seed, n_pages), schema, hide_size=True)


def kb_dfs(spark, seed: int = 42):
    """(kb_entities, kb_aliases) DataFrames, pre-cleaning."""
    rng = random.Random(seed + 1)
    ents, aliases = _mk_kb(rng)
    # tiny dimension tables: 2 partitions, not default_parallelism — per-task
    # scheduling overhead dominates otherwise (they get broadcast anyway);
    # size hidden: the fixture KB stands in for a real one
    e = local_frame(
        spark, ents,
        "src string, type string, eid string, name string, country string, feature string, wiki string",
        hide_size=True,
    ).coalesce(2)
    a = local_frame(spark, aliases, "eid string, alias string", hide_size=True).coalesce(2)
    return e, a


def ontology_dfs(spark):
    """(ldc_entity_types, nist_key, subtype_hierarchy, wordnet_types)."""
    types = [(t,) + tuple((t.split(":", 1)[1].split(".") + ["n/a", "n/a"])[:3]) for t in LDC_ENTITY_TYPES]
    ldc = local_frame(spark, types, "ont_id string, type string, subtype string, subsubtype string")
    nist = local_frame(spark, list(NIST_KEY.items()), "keyword string, ont_id string")
    hier = local_frame(
        spark, [(t, s) for t, subs in SUBTYPE_HIERARCHY.items() for s in subs], "type string, subtype string"
    )
    wn = local_frame(spark, WORDNET_TYPES, "lemma string, type string, subtype string, subsubtype string")
    return ldc, nist, hier, wn
