"""Seeded, single-process generator for literature-pipeline inputs.

One call of :func:`generate` writes, under ``root``:

* ``epmc/part-*.json``      raw EPMC corpus, JSON lines (FIXTURES.md §1)
* ``epmcids/epmcids.csv.gz`` PMID/PMCID/DOI lookup (FIXTURES.md §2)
* ``diseases``, ``targets``, ``drugs`` entity parquet (FIXTURES.md §3-§5),
  written with explicit schemas
* ``intermediate/matches``, ``intermediate/cooccurrences`` (only when
  ``Params.intermediates``): the rows the processing step would write for
  this corpus (FIXTURES.md §6/§7), for steps that talk through files
* ``truth.json``: what a correct pipeline must produce from these inputs

Every planted mention label is one of three kinds, decided here and
checked against the grounding keys before anything is written:

* **unique**: every key the label produces names one entity, so it grounds
  to exactly that entity's id;
* **ambiguous**: the same surface form is a synonym of two entities of one
  type at the same score, so it grounds to both and disambiguation decides;
* **unmatched**: none of its keys is in the entity catalogue.

Keys are computed the way ``functions.text`` computes them for labels made
of ASCII letters, digits and single spaces (the only characters generated):
split on spaces; for the stemmed-label key drop stop words, lower-case,
Porter-stem, de-duplicate and sort; for the symbol key lower-case and keep
order.  ``test_perfbench.py`` checks these keys against the Spark pipeline.

The same seed and parameters give byte-identical files: one
``random.Random(seed)`` drives every draw, in a fixed order, and gzip/parquet
metadata carry no timestamps.
"""

from __future__ import annotations

import bisect
import datetime as dt
import gzip
import json
import os
import random
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from platform_etl_literature_spark.functions import porter
from platform_etl_literature_spark.functions.text import ALL_STOP_WORDS

SECTIONS = ["title", "abstract", "concl", "results", "discuss", "methods", "other"]
STOP = frozenset(ALL_STOP_WORDS)
_STEMS: dict[str, str] = {}


def stem(word: str) -> str:
    """Porter stem (the program's stemmer), memoised: vocabularies repeat."""
    s = _STEMS.get(word)
    if s is None:
        s = _STEMS[word] = porter.stem(word)
    return s


LONG_TEXT = 600  # evidence keeps co-occurrences in sentences shorter than this
JSON_FILES = 8  # EPMC part files, so the scan splits across cores


@dataclass(frozen=True)
class Params:
    pubs: int  # publications in the corpus
    diseases: int
    targets: int
    drugs: int
    synonyms: int  # extra surface forms per entity
    zipf: float  # entity popularity exponent; 0 draws entities uniformly
    name_share: float  # share of entity mentions that use the primary name
    sentences: int  # sentences per ordinary publication
    mentions: int  # mentions per ordinary sentence
    unmatched: float  # share of mentions with an unmatched label
    ambiguous: float  # share of mentions with a planted ambiguous label
    long_text: float  # share of sentences of 600 chars or more
    hubs: int = 0  # publications carrying hub_mentions DS and GP mentions each
    hub_mentions: int = 0
    intermediates: bool = False  # also write matches/cooccurrences parquet


# ---------------------------------------------------------------------------
# grounding keys (see module docstring)
# ---------------------------------------------------------------------------


def label_key(text: str) -> str:
    """Stemmed-label (LT) key."""
    toks = [t.lower() for t in text.split(" ") if t and t not in STOP]
    return "".join(sorted({stem(t) for t in toks if t} - {""}))


def symbol_key(text: str) -> str:
    """Symbol (TT) key."""
    return "".join(t.lower() for t in text.split(" ") if t)


def mention_keys(etype: str, text: str) -> list[str]:
    """Keys a mention label of this type is looked up under."""
    if etype == "DS":
        return [label_key(text)]
    return [label_key(text), symbol_key(text)]


# ---------------------------------------------------------------------------
# vocabulary
# ---------------------------------------------------------------------------

_CONS = "bcdfghklmnprstvz"
_SYLLABLES = [c + v for c in _CONS for v in "aeiou"]


class _Words:
    """Pseudo-words and labels whose keys are all unclaimed."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.claimed: dict[tuple[str, str], str] = {}  # (type, key) -> owner
        self.fillers = [self.word() for _ in range(4000)]

    def word(self) -> str:
        rng = self.rng
        while True:
            w = "".join(rng.choices(_SYLLABLES, k=rng.randint(2, 3)))
            if rng.random() < 0.5:
                w += rng.choice(_CONS)
            if w not in STOP:
                return w

    def label(self, etype: str, owner: str, n_words: int, upper: bool = False) -> str:
        """A fresh surface form whose keys no other owner has claimed;
        claims them for ``owner``.  Single words are kept only when the
        Porter stem leaves them unchanged, so both key types agree."""
        while True:
            if upper:
                text = (
                    "".join(self.rng.choice(_CONS) for _ in range(3)).upper()
                    + str(self.rng.randint(1, 99))
                )
            else:
                text = " ".join(self.word() for _ in range(n_words))
            if n_words == 1 and not upper and stem(text) != text:
                continue
            keys = {(etype, k) for k in mention_keys(etype, text)}
            if any(not k[1] or k in self.claimed for k in keys):
                continue
            for k in keys:
                self.claimed[k] = owner
            return text

    def filler(self, n: int) -> list[str]:
        return self.rng.choices(self.fillers, k=n)


# ---------------------------------------------------------------------------
# catalogue
# ---------------------------------------------------------------------------


@dataclass
class _Entity:
    kw: str
    etype: str
    primary: str
    forms: list[str]  # every surface form that grounds to this entity alone
    row: dict


def _catalogue(p: Params, words: _Words):
    rng = words.rng
    ents: dict[str, list[_Entity]] = {"DS": [], "GP": [], "CD": []}

    for i in range(p.diseases):
        kw = f"EFO_{1000000 + i:07d}"
        name = words.label("DS", kw, rng.randint(2, 3))
        syns = [words.label("DS", kw, rng.randint(1, 3)) for _ in range(p.synonyms)]
        buckets = {k: [] for k in ("hasExactSynonym", "hasNarrowSynonym",
                                   "hasBroadSynonym", "hasRelatedSynonym")}
        for j, s in enumerate(syns):
            buckets[list(buckets)[j % 4]].append(s)
        row = {"id": kw, "name": name, "synonyms": buckets}
        ents["DS"].append(_Entity(kw, "DS", name, [name] + syns, row))

    for i in range(p.targets):
        kw = f"ENSG{100000000 + i:011d}"
        symbol = words.label("GP", kw, 1, upper=True)
        name = words.label("GP", kw, rng.randint(2, 3))
        n_sym = p.synonyms // 2
        sym_syns = [words.label("GP", kw, 1, upper=True) for _ in range(n_sym)]
        name_syns = [words.label("GP", kw, rng.randint(2, 3))
                     for _ in range(p.synonyms - n_sym)]
        row = {
            "id": kw,
            "approvedName": name,
            "approvedSymbol": symbol,
            "symbolSynonyms": [{"label": s} for s in sym_syns],
            "nameSynonyms": [{"label": s} for s in name_syns],
            # always empty: an all-empty list column is where inferred
            # schemas go wrong, so the explicit schema has to carry it
            "obsoleteSymbols": [],
            "obsoleteNames": [],
            "proteinIds": [{"id": f"P{20000 + i:05d}"}],
        }
        ents["GP"].append(_Entity(kw, "GP", symbol, [symbol, name] + sym_syns + name_syns, row))

    for i in range(p.drugs):
        kw = f"CHEMBL{500 + i}"
        name = words.label("CD", kw, 1).upper()
        trade = [words.label("CD", kw, 1).capitalize() for _ in range(max(1, p.synonyms // 2))]
        syns = [words.label("CD", kw, 1) for _ in range(p.synonyms - len(trade))]
        row = {"id": kw, "name": name, "tradeNames": trade, "synonyms": syns}
        ents["CD"].append(_Entity(kw, "CD", name, [name] + trade + syns, row))

    # planted ambiguity: one new form shared by a pair of entities of one
    # type, at the same score (DS exact synonym / GP name synonym)
    ambiguous: dict[str, list[tuple[str, tuple[str, str]]]] = {"DS": [], "GP": []}
    if p.ambiguous > 0:
        for etype in ("DS", "GP"):
            pool = ents[etype]
            for _ in range(max(2, len(pool) // 10)):
                a, b = rng.sample(range(len(pool)), 2)
                ea, eb = pool[a], pool[b]
                form = words.label(etype, f"{ea.kw}|{eb.kw}", 2)
                for e in (ea, eb):
                    if etype == "DS":
                        e.row["synonyms"]["hasExactSynonym"].append(form)
                    else:
                        e.row["nameSynonyms"].append({"label": form})
                ambiguous[etype].append((form, tuple(sorted((ea.kw, eb.kw)))))

    # unmatched surface forms: keys claimed by nobody in the catalogue
    n_un = max(4, int((p.diseases + p.targets + p.drugs) * max(p.unmatched, 0.02)))
    unmatched = {
        t: [words.label(t, "-", rng.randint(1, 3)) for _ in range(n_un)]
        for t in ("DS", "GP", "CD")
    }
    return ents, ambiguous, unmatched


def _lut(ents) -> dict[tuple[str, str], dict[str, float]]:
    """(type, key) -> {keywordId: best factor}, as load_entity_lut builds it."""
    lut: dict[tuple[str, str], dict[str, float]] = {}

    def put(t, key, kw, f):
        if key:
            d = lut.setdefault((t, key), {})
            d[kw] = max(d.get(kw, 0.0), f)

    for e in ents["DS"]:
        r = e.row
        put("DS", label_key(r["name"]), e.kw, 1.0)
        for col, f in (("hasExactSynonym", 0.999), ("hasNarrowSynonym", 0.998),
                       ("hasBroadSynonym", 0.997), ("hasRelatedSynonym", 0.996)):
            for s in r["synonyms"][col]:
                put("DS", label_key(s), e.kw, f)
    for e in ents["GP"]:
        r = e.row
        put("GP", label_key(r["approvedName"]), e.kw, 1.0)
        put("GP", symbol_key(r["approvedSymbol"]), e.kw, 1.0)
        for s in r["nameSynonyms"]:
            put("GP", label_key(s["label"]), e.kw, 0.999)
        for s in r["symbolSynonyms"]:
            put("GP", symbol_key(s["label"]), e.kw, 0.999)
        for s in r["proteinIds"]:
            put("GP", symbol_key(s["id"]), e.kw, 0.999)
    for e in ents["CD"]:
        r = e.row
        for s, f in [(r["name"], 1.0)] + [(s, 0.999) for s in r["tradeNames"] + r["synonyms"]]:
            put("CD", label_key(s), e.kw, f)
            put("CD", symbol_key(s), e.kw, f)
    return lut


def ground(lut, etype: str, text: str) -> list[tuple[str, str, int]]:
    """(keywordId, labelN, ambiguity) rows map_entities produces for one
    mention label: per hit key, the top-factor entries of that key."""
    rows = []
    for key in dict.fromkeys(mention_keys(etype, text)):
        entry = lut.get((etype, key))
        if entry:
            top = max(entry.values())
            rows += [(kw, key, len(entry)) for kw, f in sorted(entry.items()) if f == top]
    return rows


def _verify_plants(lut, ents, ambiguous, unmatched) -> dict[str, str]:
    """Check every planted label grounds as planted; returns labelN per
    (type|label) of the grounded ones."""
    label_n = {}
    for t, pool in ents.items():
        for e in pool:
            for form in e.forms:
                rows = ground(lut, t, form)
                if {r[0] for r in rows} != {e.kw} or len({r[1] for r in rows}) != 1 \
                        or rows[0][2] != 1:
                    raise ValueError(f"label {form!r} ({t}) does not ground to {e.kw} alone: {rows}")
                label_n[f"{t}|{form}"] = rows[0][1]
    for t, plants in ambiguous.items():
        for form, pair in plants:
            rows = ground(lut, t, form)
            if tuple(sorted(r[0] for r in rows)) != pair or any(r[2] != 2 for r in rows):
                raise ValueError(f"ambiguous label {form!r} ({t}) grounds to {rows}")
            label_n[f"{t}|{form}"] = rows[0][1]
    for t, forms in unmatched.items():
        for form in forms:
            if ground(lut, t, form):
                raise ValueError(f"unmatched label {form!r} ({t}) grounds")
    return label_n


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


class _Picker:
    """Entity draws with Zipf popularity over a fixed random rank order."""

    def __init__(self, rng: random.Random, n: int, s: float):
        order = list(range(n))
        rng.shuffle(order)
        self.order = order
        acc, self.cum = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cum.append(acc)

    def pick(self, rng: random.Random) -> int:
        return self.order[bisect.bisect_left(self.cum, rng.random() * self.cum[-1])]


@dataclass
class _Mention:
    label: str
    etype: str
    kind: str  # unique | ambiguous | unmatched
    kw: str | None


def _draw_mention(p, rng, etype, ents, pickers, ambiguous, unmatched) -> _Mention:
    r = rng.random()
    if r < p.unmatched:
        return _Mention(rng.choice(unmatched[etype]), etype, "unmatched", None)
    if r < p.unmatched + p.ambiguous and ambiguous.get(etype):
        form, _ = rng.choice(ambiguous[etype])
        return _Mention(form, etype, "ambiguous", None)
    e = ents[etype][pickers[etype].pick(rng)]
    form = e.primary if rng.random() < p.name_share else rng.choice(e.forms)
    return _Mention(form, etype, "unique", e.kw)


def _sentence(words: _Words, mentions: list[_Mention], long: bool, offset: int):
    """Sentence text with the mention labels at recorded offsets."""
    rng = words.rng
    parts, spans, pos = [], [], 0
    for m in mentions:
        gap = " ".join(words.filler(rng.randint(1, 4))) + " "
        parts.append(gap)
        pos += len(gap)
        spans.append((pos, pos + len(m.label)))
        parts.append(m.label)
        pos += len(m.label)
    parts.append(" " + " ".join(words.filler(rng.randint(2, 5))) + ".")
    text = "".join(parts)
    if long:
        pad = " ".join(words.filler(100))[: LONG_TEXT + 40 - len(text)]
        text = text[:-1] + " " + pad.rstrip() + "."
    elif len(text) >= LONG_TEXT:
        text = text[: LONG_TEXT - 2] + "."  # mentions stay inside: labels are short
        if spans and spans[-1][1] > len(text) - 1:
            raise ValueError("mention overflows a short sentence")
    match_rows = [
        {
            "label": m.label,
            "type": m.etype,
            "startInSentence": s,
            "endInSentence": e,
            "sectionStart": offset + s,
            "sectionEnd": offset + e,
        }
        for m, (s, e) in zip(mentions, spans)
    ]
    return text, match_rows, spans


def _coocs(rng, mentions, spans):
    """Co-occurrences between non-ambiguous mention pairs of a sentence,
    GP before DS; at most four per sentence."""
    out = []
    idx = [i for i, m in enumerate(mentions) if m.kind != "ambiguous"]
    pairs = [(i, j) for a, i in enumerate(idx) for j in idx[a + 1:]
             if mentions[i].etype != mentions[j].etype]
    rng.shuffle(pairs)
    for i, j in pairs[:4]:
        a, b = mentions[i], mentions[j]
        if (a.etype, b.etype) in (("DS", "GP"), ("CD", "GP"), ("DS", "CD")):
            i, j, a, b = j, i, b, a
        out.append((i, j, {
            "label1": a.label,
            "start1": spans[i][0],
            "end1": spans[i][1],
            "label2": b.label,
            "start2": spans[j][0],
            "end2": spans[j][1],
            "type": f"{a.etype}-{b.etype}",
            "sentEvidenceScore": round(rng.uniform(0.0, 10.0), 3),
            "association": rng.choice(["positive", "negative", "neutral"]),
            "relation": rng.choice(["associated", "causes", "treats"]),
        }))
    return out


# ---------------------------------------------------------------------------
# explicit parquet schemas (FIXTURES.md)
# ---------------------------------------------------------------------------

_S = pa.string()
_LS = pa.list_(_S)
_LABELS = pa.list_(pa.struct([("label", _S)]))

DISEASES_SCHEMA = pa.schema([
    ("id", _S), ("name", _S),
    ("synonyms", pa.struct([("hasExactSynonym", _LS), ("hasNarrowSynonym", _LS),
                            ("hasBroadSynonym", _LS), ("hasRelatedSynonym", _LS)])),
])
TARGETS_SCHEMA = pa.schema([
    ("id", _S), ("approvedName", _S), ("approvedSymbol", _S),
    ("symbolSynonyms", _LABELS), ("nameSynonyms", _LABELS),
    ("obsoleteSymbols", _LABELS), ("obsoleteNames", _LABELS),
    ("proteinIds", pa.list_(pa.struct([("id", _S)]))),
])
DRUGS_SCHEMA = pa.schema([("id", _S), ("name", _S), ("tradeNames", _LS), ("synonyms", _LS)])

_BASE = [
    ("pmid", _S), ("pmcid", _S), ("pubDate", _S), ("date", pa.date32()),
    ("year", pa.int32()), ("month", pa.int32()), ("day", pa.int32()),
    ("organisms", _LS), ("section", _S), ("text", _S), ("trace_source", _S),
]
MATCHES_SCHEMA = pa.schema(_BASE + [
    ("endInSentence", pa.int64()), ("label", _S), ("labelN", _S),
    ("sectionEnd", pa.int64()), ("sectionStart", pa.int64()),
    ("startInSentence", pa.int64()), ("type", _S), ("keywordId", _S),
    ("isMapped", pa.bool_()),
])
COOCS_SCHEMA = pa.schema(_BASE + [
    ("end1", pa.int64()), ("end2", pa.int64()), ("evidence_score", pa.float64()),
    ("label1", _S), ("labelN1", _S), ("keywordId1", _S),
    ("label2", _S), ("labelN2", _S), ("keywordId2", _S),
    ("start1", pa.int64()), ("start2", pa.int64()),
    ("type", _S), ("type1", _S), ("type2", _S), ("isMapped", pa.bool_()),
])


def _write_parquet(rows: list[dict], schema: pa.Schema, path: str, files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    per = max(1, -(-len(rows) // files))
    for i in range(files):
        chunk = rows[i * per:(i + 1) * per]
        if chunk or i == 0:
            table = pa.Table.from_pylist(chunk, schema=schema)
            pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------------------
# generate
# ---------------------------------------------------------------------------

TRACE_SOURCE = "epmc/part-00000.json"  # trace_source of generated intermediates


def _match_row(base: dict, mr: dict, m: _Mention, label_n: str, kw: str) -> dict:
    return {
        **base,
        "endInSentence": mr["endInSentence"],
        "label": m.label,
        "labelN": label_n,
        "sectionEnd": mr["sectionEnd"],
        "sectionStart": mr["sectionStart"],
        "startInSentence": mr["startInSentence"],
        "type": m.etype,
        "keywordId": kw,
        "isMapped": True,
    }


def generate(root: str, seed: int, p: Params) -> dict:
    """Write the inputs for ``p`` under ``root``; return the truth dict
    (also written to ``root/truth.json``)."""
    rng = random.Random(seed)
    words = _Words(rng)
    ents, ambiguous, unmatched = _catalogue(p, words)
    lut = _lut(ents)
    label_n = _verify_plants(lut, ents, ambiguous, unmatched)
    pickers = {t: _Picker(rng, len(ents[t]), p.zipf) for t in ents}

    epmc_lines: list[str] = []
    ids_rows: list[tuple[int, str]] = []
    matches_rows: list[dict] = []
    coocs_rows: list[dict] = []
    failed_matches = 0
    failed_coocs = 0
    unique_labels: dict[str, str] = {}
    ambiguous_labels = {f"{t}|{f}": list(pair) for t, pl in ambiguous.items() for f, pair in pl}
    pair_pubs: dict[str, set] = {}
    # disambiguation: an ambiguous mention keeps a candidate id when its
    # publication also mentions that id by a unique label, or when no
    # publication does (the per-publication minimum ambiguity is then
    # no larger than the id's global minimum)
    pub_unique: dict[tuple, set] = {}
    any_unique: set = set()
    pending: list[tuple] = []
    mentions_total = 0
    matches_total = 0
    kept_pubs = 0

    t_weights = {"DS": 0.4, "GP": 0.4, "CD": 0.2}
    types = list(t_weights)
    cum_t = [0.4, 0.8, 1.0]
    epoch = dt.date(2000, 1, 1)

    for i in range(p.pubs + p.hubs):
        hub = i >= p.pubs
        pmid_real, pmcid = str(30000000 + i), f"PMC{7000000 + i}"
        ids_rows.append((int(pmid_real), pmcid))
        r = rng.random()
        # id shapes: 6% pmid "" / "0" / null with a known pmcid (repaired
        # from the lookup), 2% orphans (unknown pmcid: dropped), 1% known
        # pmid without pmcid (dropped by the anti-join)
        if hub or r >= 0.09:
            pmid, pmcid_out, kept = pmid_real, pmcid, True
        elif r < 0.06:
            pmid, pmcid_out, kept = rng.choice(["", "0", None]), pmcid, True
        elif r < 0.08:
            pmid, pmcid_out, kept = "", f"PMC{9000000 + i}", False
            ids_rows.pop()
        else:
            pmid, pmcid_out, kept = pmid_real, None, False
        date = epoch + dt.timedelta(days=rng.randrange(8400))
        pub_date = date.isoformat()
        organisms = rng.sample(["Homo sapiens", "Mus musculus", "Rattus norvegicus"], rng.randint(1, 2))
        kept_pubs += kept

        if hub:
            n_sent = max(1, p.hub_mentions // 4)
            plan = [["DS", "GP"] * 4 for _ in range(n_sent)]
        else:
            n_sent = p.sentences
            plan = [
                [types[bisect.bisect_left(cum_t, rng.random())] for _ in range(p.mentions)]
                for _ in range(n_sent)
            ]

        sentences = []
        offsets: dict[str, int] = {}
        for s_idx, etypes in enumerate(plan):
            section = "title" if s_idx == 0 and not hub else rng.choice(SECTIONS[1:])
            mentions = [_draw_mention(p, rng, t, ents, pickers, ambiguous, unmatched) for t in etypes]
            long = hub or rng.random() < p.long_text
            off = offsets.get(section, 0)
            text, match_rows, spans = _sentence(words, mentions, long, off)
            offsets[section] = off + len(text) + 1
            coocs = _coocs(rng, mentions, spans)
            raw_section = section.capitalize() if rng.random() < 0.1 else section
            sentences.append({
                "section": raw_section,
                "text": text,
                "matches": match_rows,
                "co-occurrence": [c for _, _, c in coocs],
            })
            if not kept:
                continue
            base = {
                "pmid": pmid if pmid not in ("", "0", None) else pmid_real,
                "pmcid": pmcid_out,
                "pubDate": pub_date,
                "date": date,
                "year": date.year,
                "month": date.month,
                "day": date.day,
                "organisms": organisms,
                "section": section,
                "text": text,
                "trace_source": TRACE_SOURCE,
            }
            for m, mr in zip(mentions, match_rows):
                mentions_total += 1
                key = f"{m.etype}|{m.label}"
                if m.kind == "unmatched":
                    failed_matches += 1
                    continue
                pub_key = (base["pmid"], pmcid_out, m.etype)
                if m.kind == "ambiguous":
                    pending.append((pub_key, base, mr, m, ambiguous_labels[key]))
                    continue
                unique_labels[key] = m.kw
                pub_unique.setdefault(pub_key, set()).add(m.kw)
                any_unique.add((m.etype, m.kw))
                matches_total += 1
                if p.intermediates:
                    matches_rows.append(_match_row(base, mr, m, label_n[key], m.kw))
            for a, b, c in coocs:
                ma, mb = mentions[a], mentions[b]
                if "unmatched" in (ma.kind, mb.kind):
                    failed_coocs += 1
                    continue
                if ma.etype == "GP" and mb.etype == "DS" and len(text) < LONG_TEXT:
                    pair_pubs.setdefault(f"{ma.kw}|{mb.kw}", set()).add(base["pmid"])
                if p.intermediates:
                    coocs_rows.append({
                        **base,
                        "end1": c["end1"],
                        "end2": c["end2"],
                        "evidence_score": c["sentEvidenceScore"],
                        "label1": ma.label,
                        "labelN1": label_n[f"{ma.etype}|{ma.label}"],
                        "keywordId1": ma.kw,
                        "label2": mb.label,
                        "labelN2": label_n[f"{mb.etype}|{mb.label}"],
                        "keywordId2": mb.kw,
                        "start1": c["start1"],
                        "start2": c["start2"],
                        "type": c["type"],
                        "type1": ma.etype,
                        "type2": mb.etype,
                        "isMapped": True,
                    })

        doc = {"pmid": pmid, "pmcid": pmcid_out, "pubDate": pub_date,
               "organisms": organisms, "sentences": sentences}
        epmc_lines.append(json.dumps(doc, separators=(",", ":")))

    dropped = 0
    for pub_key, base, mr, m, pair in pending:
        for kw in pair:
            if kw in pub_unique.get(pub_key, ()) or (m.etype, kw) not in any_unique:
                matches_total += 1
                if p.intermediates:
                    matches_rows.append(
                        _match_row(base, mr, m, label_n[f"{m.etype}|{m.label}"], kw))
            else:
                dropped += 1

    # --- write ---
    epmc_dir = os.path.join(root, "epmc")
    os.makedirs(epmc_dir, exist_ok=True)
    per = -(-len(epmc_lines) // JSON_FILES)
    for k in range(JSON_FILES):
        with open(os.path.join(epmc_dir, f"part-{k:05d}.json"), "w") as fh:
            fh.write("\n".join(epmc_lines[k * per:(k + 1) * per]) + "\n")

    ids_dir = os.path.join(root, "epmcids")
    os.makedirs(ids_dir, exist_ok=True)
    with open(os.path.join(ids_dir, "epmcids.csv.gz"), "wb") as raw, \
            gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
        lines = ["PMID,PMCID,DOI"] + [f"{a},{b},10.1000/{a}" for a, b in ids_rows]
        gz.write(("\n".join(lines) + "\n").encode())

    _write_parquet([e.row for e in ents["DS"]], DISEASES_SCHEMA, os.path.join(root, "diseases"))
    _write_parquet([e.row for e in ents["GP"]], TARGETS_SCHEMA, os.path.join(root, "targets"))
    _write_parquet([e.row for e in ents["CD"]], DRUGS_SCHEMA, os.path.join(root, "drugs"))
    if p.intermediates:
        inter = os.path.join(root, "intermediate")
        _write_parquet(matches_rows, MATCHES_SCHEMA, os.path.join(inter, "matches"), 4)
        _write_parquet(coocs_rows, COOCS_SCHEMA, os.path.join(inter, "cooccurrences"), 4)

    distinct_labels = len(unique_labels) + len(ambiguous_labels)
    truth = {
        "seed": seed,
        "params": asdict(p),
        "pubs": p.pubs + p.hubs,
        "kept_pubs": kept_pubs,
        "mentions": mentions_total,
        "failed_matches": failed_matches,
        "matches_rows": matches_total,
        "disambiguation_drop": dropped,
        "failed_cooccurrences": failed_coocs,
        "unique_labels": unique_labels,
        "ambiguous_labels": ambiguous_labels,
        "cooc_pair_pubs": {k: len(v) for k, v in sorted(pair_pubs.items())},
        # measured shares of the properties the workloads exist for
        "shares": {
            "unmatched_mentions": failed_matches / max(1, mentions_total),
            "label_reuse": mentions_total / max(1, distinct_labels),
            "ambiguous_label_share": len(ambiguous_labels) / max(1, distinct_labels),
            "hub_mention_share": (p.hubs * p.hub_mentions * 2) / max(1, mentions_total),
        },
    }
    with open(os.path.join(root, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth
