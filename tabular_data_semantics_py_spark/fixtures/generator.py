"""Deterministic synthetic fixture corpus (FIXTURES.md shapes).

Everything is derived from ``random.Random(seed)`` — regeneration is
byte-identical (FIXTURES.md §7). No external data. The corpus plays the
role of the reference's remote KGs + SemTab table sets:

- ``source_repos``  — the pipeline input table, exactly the
  ``input_hint`` shape (repo, path, commit, lang, content); CSV
  artifacts carry the tables, decoy rows carry non-CSV source files.
- ``entity_index``  — stands in for DBpedia Lookup / Wikidata search
  (reference kg/lookup.py:162-209,270-300): labels, aliases, types,
  redirects, disambiguation flags, popularity.
- ``ontology``      — class DAG standing in for ontologies/dbpedia.owl
  loaded via onto_access.py:42-98.
- ``kg_triples`` / ``property_meta`` — mini triple store backing the
  predicate strategy (matching/kg_matching.py:357-389) and CPA.

Tables embed the cell perturbations the reference handles:
parenthesized qualifiers (kg/dbpedia.py:22-31), accents
(oaei/dbpedia_fragment.py:72-78), stray quotes
(test/challenge_utils.py:664-666), empty cells
(oaei/tabular2rdf.py:170-171), short malformed rows
(oaei/tabular2rdf.py:213-215), duplicated rows, and a Zipf-hot mention
repeated across tables (skew testing).
"""

from __future__ import annotations

import csv
import hashlib
import io
import random
from dataclasses import dataclass, field

from ..constants import (
    AVOID_PREDICATES,
    DISAMBIGUATION_CLASS,
    ONTOLOGY_NS,
    OWL_CLASS,
    OWL_NAMED_INDIVIDUAL,
    PROPERTY_NS,
    RDF_TYPE,
    RESOURCE_NS,
    WD_DISAMBIGUATION_CLASS,
    WD_ONTOLOGY_NS,
    WD_RESOURCE_NS,
)


def _cls(name: str) -> str:
    return ONTOLOGY_NS + name


def _res(name: str) -> str:
    return RESOURCE_NS + name.replace(" ", "_")


def _prop(name: str) -> str:
    return PROPERTY_NS + name


# --- ontology: fixed hand-authored DAG (stands in for dbpedia.owl) --------
# (class, parent) edges; DAG depth 5, includes an Agent-like generic class
# and one equivalent-class pair (SoccerClub ≡ FootballClub).
ONTOLOGY_EDGES: list[tuple[str, str]] = [
    ("Agent", "Entity"),
    ("Person", "Agent"),
    ("Athlete", "Person"),
    ("BasketballPlayer", "Athlete"),
    ("SoccerPlayer", "Athlete"),
    ("Artist", "Person"),
    ("MusicalArtist", "Artist"),
    ("Organisation", "Agent"),
    ("Company", "Organisation"),
    ("SportsTeam", "Organisation"),
    ("BasketballTeam", "SportsTeam"),
    ("SoccerClub", "SportsTeam"),
    ("FootballClub", "SportsTeam"),
    ("Place", "Entity"),
    ("PopulatedPlace", "Place"),
    ("City", "PopulatedPlace"),
    ("Country", "PopulatedPlace"),
    ("NaturalPlace", "Place"),
    ("Mountain", "NaturalPlace"),
    ("River", "NaturalPlace"),
    ("Work", "Entity"),
    ("Film", "Work"),
    ("MusicalWork", "Work"),
    ("Album", "MusicalWork"),
    ("Song", "MusicalWork"),
    ("Device", "Entity"),
    ("AutomobileModel", "Device"),
    ("DisambiguationPage", "Entity"),
]

EQUIVALENT_CLASSES: list[tuple[str, str]] = [("SoccerClub", "FootballClub")]

# object properties: (name, domain class, range class)
OBJECT_PROPERTIES: list[tuple[str, str, str]] = [
    ("playsFor", "Athlete", "SportsTeam"),
    ("locatedIn", "City", "Country"),
    ("capitalOf", "City", "Country"),
    ("director", "Film", "Person"),
    ("artist", "Album", "MusicalArtist"),
    ("manufacturer", "AutomobileModel", "Company"),
    ("flowsThrough", "River", "Country"),
    ("inRange", "Mountain", "Country"),
]

# literal (datatype) properties per class used as extra table columns
LITERAL_PROPERTIES: dict[str, list[str]] = {
    "City": ["population", "areaKm2"],
    "Country": ["population", "gdp"],
    "Athlete": ["points", "height"],
    "Film": ["year", "budget"],
    "Album": ["year", "tracks"],
    "AutomobileModel": ["price", "horsepower"],
    "River": ["lengthKm", "dischargeRate"],
    "Mountain": ["elevation", "prominence"],
}

# name material (some with accents/diacritics on purpose)
_FIRST = ["Michael", "José", "Luka", "André", "Marta", "Søren", "Niña",
          "Kevin", "Ingrid", "Pável", "Zoë", "Omar", "Chloé", "Björn",
          "Aiko", "Dario", "Fatima", "Göran", "Helga", "Iván"]
_LAST = ["Jordan", "Ramírez", "Dončić", "Müller", "Silva", "Kjær",
         "Olsen", "Durant", "Björk", "Nedvěd", "Okafor", "Núñez",
         "Lefèvre", "Andersson", "Tanaka", "Rossi", "Haddad", "Ström",
         "Keller", "Petrov"]
_CITY = ["São Paulo", "Zürich", "Köln", "Málaga", "Paris", "Springfield",
         "Port Royal", "Brasília", "Reykjavík", "Gdańsk", "León",
         "Århus", "Montréal", "Bogotá", "Tiranë", "Oslo", "Valletta",
         "Nairobi", "Quito", "Lima"]
_COUNTRY = ["USA", "Brazil", "France", "Germany", "Spain", "Poland",
            "Iceland", "Denmark", "Colombia", "Albania", "Norway",
            "Malta", "Kenya", "Ecuador", "Peru", "Japan", "Italy",
            "Sweden", "Mexico", "Canada"]
_TEAM_WORD = ["Bulls", "Lakers", "Hawks", "United", "Rovers", "Wanderers",
              "Dynamo", "Atlético", "Sporting", "Real", "Olympic", "City"]
_WORK_WORD = ["Midnight", "Echoes", "Horizon", "Crimson", "Solstice",
              "Aurora", "Falling", "Golden", "Silent", "Electric",
              "Velvet", "Paris"]
_COMPANY = ["Apex Motors", "Vortex Auto", "Lumen Cars", "Titan Motors",
            "Nova Automotive", "Zephyr Works"]
_MOUNTAIN = ["Mont Blanc", "Aconcagua", "Denali", "Kilimanjaro",
             "Matterhorn", "Elbrus", "Fuji", "Olympus"]
_RIVER = ["Danube", "Rhône", "Vistula", "Paraná", "Yukon", "Loire",
          "Tagus", "Mekong"]


@dataclass
class Entity:
    uri: str
    label: str
    aliases: list[str]
    types: list[str]  # direct class URIs
    redirect_to: str | None
    is_disambiguation: bool
    popularity: int


@dataclass
class Table:
    table_id: str
    repo: str
    path: str
    header: list[str]
    rows: list[list[str]]  # raw cell strings as embedded in the CSV
    # generation intent (NOT gold): per data-row, per entity col → uri|None
    intended: list[dict[int, str | None]]
    entity_cols: list[int]  # columns holding entity mentions (0 = main)
    # raw row lines that are intentionally short/malformed (row indices
    # into `rows` that the parser must skip)
    short_rows: list[int] = field(default_factory=list)


@dataclass
class FixtureCorpus:
    seed: int
    classes: list[tuple[str, str]]  # (class_uri, label)
    edges: list[tuple[str, str]]  # (class_uri, parent_uri)
    equivalent: list[tuple[str, str]]
    entities: list[Entity]
    triples: list[tuple[str, str, str, bool]]  # subj, pred, obj, obj_is_literal
    property_meta: list[tuple[str, str, str]]  # pred, domain, range
    tables: list[Table]
    repos: list[tuple[str, str, str, str, str]]  # repo,path,commit,lang,content

    def entity_by_uri(self) -> dict[str, Entity]:
        return {e.uri: e for e in self.entities}

    def closure(self) -> dict[str, dict[str, int]]:
        """class_uri → {ancestor_uri: min_depth}.

        Distance semantics follow the reference's path-count SPARQL
        (kg/endpoints.py:481-487): number of subClassOf edges on the
        shortest path. Equivalent classes traverse at depth 0
        (kg/endpoints.py:469-477), so an equivalent class appears as
        an "ancestor" at depth 0; strict ancestors have depth ≥ 1.
        """
        import heapq

        adj: dict[str, list[tuple[str, int]]] = {}
        for c, p in self.edges:
            adj.setdefault(c, []).append((p, 1))
        for a, b in self.equivalent:
            adj.setdefault(a, []).append((b, 0))
            adj.setdefault(b, []).append((a, 0))
        out: dict[str, dict[str, int]] = {}
        for c, _label in self.classes:
            dist: dict[str, int] = {c: 0}
            heap: list[tuple[int, str]] = [(0, c)]
            while heap:
                d, n = heapq.heappop(heap)
                if d > dist.get(n, 1 << 30):
                    continue
                for m, w in adj.get(n, ()):
                    nd = d + w
                    if nd < dist.get(m, 1 << 30):
                        dist[m] = nd
                        heapq.heappush(heap, (nd, m))
            dist.pop(c, None)
            out[c] = dist
        return out


def _mk_csv(header: list[str], raw_lines: list[list[str]]) -> str:
    """Render CSV exactly as the reference reads it:
    delimiter=',', quotechar='"', escapechar='\\'
    (test/challenge_utils.py:534, oaei/tabular2rdf.py:184)."""
    buf = io.StringIO()
    w = csv.writer(
        buf, delimiter=",", quotechar='"', escapechar="\\",
        doublequote=False, quoting=csv.QUOTE_MINIMAL, lineterminator="\n",
    )
    w.writerow(header)
    for r in raw_lines:
        w.writerow(r)
    return buf.getvalue()


def _commit_for(path: str, seed: int) -> str:
    return hashlib.sha1(f"{seed}:{path}".encode()).hexdigest()


def make_corpus(
    n_tables: int = 24,
    entities_per_class: int = 24,
    min_rows: int = 5,
    max_rows: int = 24,
    seed: int = 42,
) -> FixtureCorpus:
    rng = random.Random(seed)

    classes = sorted({c for c, _ in ONTOLOGY_EDGES} | {p for _, p in ONTOLOGY_EDGES})
    class_rows = [(_cls(c), c) for c in classes]
    edge_rows = [(_cls(c), _cls(p)) for c, p in ONTOLOGY_EDGES]
    equiv_rows = [(_cls(a), _cls(b)) for a, b in EQUIVALENT_CLASSES]

    entities: list[Entity] = []
    by_class: dict[str, list[Entity]] = {}
    used_uris: set[str] = set()

    def add_entity(label: str, cls_name: str, aliases: list[str],
                   popularity: int, disamb: bool = False) -> Entity:
        base = label
        n = 1
        uri = _res(base)
        while uri in used_uris:
            n += 1
            uri = _res(f"{base}_{n}")
        used_uris.add(uri)
        e = Entity(
            uri=uri, label=label, aliases=aliases,
            types=[] if disamb else [_cls(cls_name)],
            redirect_to=None, is_disambiguation=disamb,
            popularity=popularity,
        )
        if disamb:
            e.types = [DISAMBIGUATION_CLASS]
        entities.append(e)
        by_class.setdefault(cls_name, []).append(e)
        return e

    # countries (shared pool; "USA" is the Zipf-hot mention)
    for i, name in enumerate(_COUNTRY):
        aliases = []
        if name == "USA":
            aliases = ["United States", "U.S.A.", "America"]
        add_entity(name, "Country", aliases, popularity=1000 - i)

    # cities; homonym cluster: "Paris" City and later "Paris" Film
    for i, name in enumerate(_CITY):
        aliases = []
        if name == "São Paulo":
            aliases = ["Sao Paulo", "Sampa"]
        if name == "Zürich":
            aliases = ["Zurich"]
        if name == "Köln":
            aliases = ["Cologne"]
        add_entity(name, "City", aliases, popularity=900 - i)

    # athletes (basketball + soccer)
    for i in range(entities_per_class):
        fn, ln = rng.choice(_FIRST), rng.choice(_LAST)
        label = f"{fn} {ln}"
        cls_name = "BasketballPlayer" if i % 2 == 0 else "SoccerPlayer"
        aliases = [f"{fn[0]}. {ln}"] if rng.random() < 0.5 else []
        add_entity(label, cls_name, aliases, popularity=800 - i)

    # musical artists
    for i in range(max(6, entities_per_class // 2)):
        fn, ln = rng.choice(_FIRST), rng.choice(_LAST)
        add_entity(f"{fn} {ln}", "MusicalArtist", [], popularity=700 - i)

    # teams
    for i in range(entities_per_class):
        city = rng.choice(_CITY)
        word = rng.choice(_TEAM_WORD)
        label = f"{city} {word}"
        cls_name = "BasketballTeam" if i % 2 == 0 else "SoccerClub"
        add_entity(label, cls_name, [word] if rng.random() < 0.3 else [],
                   popularity=600 - i)

    # films / albums (homonym: a Film literally labeled "Paris")
    for i in range(entities_per_class):
        w1, w2 = rng.choice(_WORK_WORD), rng.choice(_WORK_WORD)
        label = f"{w1} {w2}" if w1 != w2 else f"{w1} Reprise"
        cls_name = "Film" if i % 2 == 0 else "Album"
        add_entity(label, cls_name, [], popularity=500 - i)
    add_entity("Paris", "Film", [], popularity=480)

    # companies / mountains / rivers
    for i, name in enumerate(_COMPANY):
        add_entity(name, "Company", [], popularity=400 - i)
    for i, name in enumerate(_MOUNTAIN):
        add_entity(name, "Mountain", [], popularity=380 - i)
    for i, name in enumerate(_RIVER):
        add_entity(name, "River", [], popularity=360 - i)

    # car models
    for i in range(max(8, entities_per_class // 2)):
        label = f"{rng.choice(['Apex', 'Vortex', 'Lumen', 'Titan', 'Nova', 'Zephyr'])} {rng.choice(['GT', 'EV', 'RS', 'LX', 'Sport', 'Turbo'])}{rng.randint(1, 9)}00"
        add_entity(label, "AutomobileModel", [], popularity=340 - i)

    # disambiguation pages for shared labels (kg_matching.py:417-420)
    add_entity("Paris (disambiguation)", "City", [], popularity=10, disamb=True)
    add_entity("Springfield (disambiguation)", "City", [], popularity=9,
               disamb=True)

    # redirect variants (~1 in 8 entities gets a redirect alias URI;
    # two chains of length 2 — test/challenge_utils.py:441-453)
    redirect_rows: list[Entity] = []
    base_entities = list(entities)
    for i, e in enumerate(base_entities):
        if i % 8 == 3 and not e.is_disambiguation:
            r = Entity(
                uri=e.uri + "_(old)", label=e.label + " (old)", aliases=[],
                types=[], redirect_to=e.uri, is_disambiguation=False,
                popularity=max(1, e.popularity - 300),
            )
            redirect_rows.append(r)
    # chains: A_(older) -> A_(old) -> A for the first two redirects
    for r in redirect_rows[:2]:
        redirect_rows.append(Entity(
            uri=r.uri.replace("_(old)", "_(older)"),
            label=r.label.replace(" (old)", " (older)"), aliases=[],
            types=[], redirect_to=r.uri, is_disambiguation=False,
            popularity=max(1, r.popularity - 10),
        ))
    entities.extend(redirect_rows)

    # --- triple store -----------------------------------------------------
    triples: list[tuple[str, str, str, bool]] = []
    prop_meta = [(_prop(p), _cls(d), _cls(r)) for p, d, r in OBJECT_PROPERTIES]
    relation: dict[str, dict[str, str]] = {}  # pred -> subj_uri -> obj_uri

    def relate(pred: str, subj: Entity, obj: Entity) -> None:
        triples.append((subj.uri, _prop(pred), obj.uri, False))
        relation.setdefault(_prop(pred), {})[subj.uri] = obj.uri

    for e in entities:
        for t in e.types:
            if t != DISAMBIGUATION_CLASS:
                triples.append((e.uri, RDF_TYPE, t, False))

    countries = by_class["Country"]
    for c in by_class["City"]:
        relate("locatedIn", c, rng.choice(countries))
    capital_pool = rng.sample(by_class["City"], min(8, len(by_class["City"])))
    for c in capital_pool:
        relate("capitalOf", c, rng.choice(countries))
    teams = by_class.get("BasketballTeam", []) + by_class.get("SoccerClub", [])
    for a in by_class.get("BasketballPlayer", []) + by_class.get("SoccerPlayer", []):
        pool = by_class["BasketballTeam"] if _cls("BasketballPlayer") in a.types else by_class["SoccerClub"]
        if pool:
            relate("playsFor", a, rng.choice(pool))
    persons = by_class.get("BasketballPlayer", []) + by_class.get("MusicalArtist", [])
    for f in by_class.get("Film", []):
        relate("director", f, rng.choice(persons))
    for al in by_class.get("Album", []):
        relate("artist", al, rng.choice(by_class["MusicalArtist"]))
    for m in by_class.get("AutomobileModel", []):
        relate("manufacturer", m, rng.choice(by_class["Company"]))
    for r in by_class.get("River", []):
        relate("flowsThrough", r, rng.choice(countries))
    for m in by_class.get("Mountain", []):
        relate("inRange", m, rng.choice(countries))

    # literal triples + blocklisted noise (kg/entity.py:37-60 role)
    for e in base_entities:
        if e.is_disambiguation:
            continue
        cls_name = e.types[0].rsplit("/", 1)[-1] if e.types else ""
        for lp in LITERAL_PROPERTIES.get(cls_name, [])[:1]:
            triples.append((e.uri, _prop(lp), str(rng.randint(10, 10_000_000)), True))
        if rng.random() < 0.4:
            other = rng.choice(base_entities)
            triples.append((e.uri, sorted(AVOID_PREDICATES)[rng.randrange(len(AVOID_PREDICATES))], other.uri, False))

    # --- tables -------------------------------------------------------------
    themes = [
        # (theme name, main class pool names, columns)
        ("players", ["BasketballPlayer", "SoccerPlayer"],
         [("Player", "main"), ("Team", "playsFor"), ("Points", "lit")]),
        ("cities", ["City"],
         [("City", "main"), ("Country", "locatedIn"), ("Population", "lit")]),
        ("films", ["Film"],
         [("Film", "main"), ("Director", "director"), ("Year", "lit")]),
        ("albums", ["Album"],
         [("Album", "main"), ("Artist", "artist"), ("Year", "lit")]),
        ("cars", ["AutomobileModel"],
         [("Model", "main"), ("Manufacturer", "manufacturer"), ("Price", "lit")]),
        ("rivers", ["River"],
         [("River", "main"), ("Country", "flowsThrough"), ("Length", "lit")]),
    ]
    ent_by_uri = {e.uri: e for e in entities}
    hot = next(e for e in entities if e.label == "USA")

    tables: list[Table] = []
    repos: list[tuple[str, str, str, str, str]] = []

    for t_idx in range(n_tables):
        theme_name, pools, cols = themes[t_idx % len(themes)]
        table_id = f"tab_{t_idx:04d}_{theme_name}"
        repo = f"org{t_idx % 7}/data-tables"
        fname = table_id
        if t_idx == 5:
            fname = table_id + "#v2"  # filename-sanitization analogue
        path = f"data/{fname}.csv"
        pool = [e for p in pools for e in by_class.get(p, [])]
        n_rows = rng.randint(min_rows, max_rows)
        header = [c for c, _ in cols]
        rows: list[list[str]] = []
        intended: list[dict[int, str | None]] = []
        entity_cols = [i for i, (_, kind) in enumerate(cols) if kind != "lit"]
        short_rows: list[int] = []

        unresolvable = t_idx == 7  # NO-TYPES path (challenge_utils.py:164-166)
        for r_idx in range(n_rows):
            ent = rng.choice(pool)
            # resolve redirect variants sometimes: mention the redirect label
            row: list[str] = []
            intent: dict[int, str | None] = {}
            for c_idx, (_, kind) in enumerate(cols):
                if kind == "main":
                    if unresolvable:
                        row.append(f"zzqx-{t_idx}-{r_idx}")
                        intent[c_idx] = None
                        continue
                    mention_ent = ent
                    if theme_name == "cities" and rng.random() < 0.12:
                        mention_ent = hot  # Zipf-hot mention
                    label = mention_ent.label
                    if mention_ent.aliases and rng.random() < 0.3:
                        label = rng.choice(mention_ent.aliases)
                    if rng.random() < 0.10 and "(" not in label:
                        label = f"{label} ({theme_name[:-1]})"
                    if rng.random() < 0.08:
                        label = f'"{label}"'
                    # typo perturbation: exercises the fuzzy lexical
                    # scorer (reference ranks fuzzy lookup hits,
                    # kg/lookup.py:95-106); drop one inner character
                    if rng.random() < 0.06 and len(label) > 6:
                        pos = rng.randrange(1, len(label) - 1)
                        label = label[:pos] + label[pos + 1:]
                    row.append(label)
                    intent[c_idx] = mention_ent.uri
                    if mention_ent is not ent:
                        ent = mention_ent
                elif kind == "lit":
                    row.append("" if rng.random() < 0.06
                               else str(rng.randint(1, 99999)))
                else:  # related entity column
                    obj_uri = relation.get(_prop(kind), {}).get(ent.uri)
                    if obj_uri is None or unresolvable:
                        row.append("")
                        intent[c_idx] = None
                    else:
                        obj = ent_by_uri[obj_uri]
                        lbl = obj.label
                        if obj.aliases and rng.random() < 0.2:
                            lbl = rng.choice(obj.aliases)
                        row.append(lbl)
                        intent[c_idx] = obj_uri
            rows.append(row)
            intended.append(intent)
            # duplicated row (FIXTURES.md §1)
            if rng.random() < 0.06:
                rows.append(list(row))
                intended.append(dict(intent))
            # malformed short row (oaei/tabular2rdf.py:213-215)
            if rng.random() < 0.05:
                rows.append(row[: rng.randint(1, len(cols) - 1)])
                intended.append({})
                short_rows.append(len(rows) - 1)

        # tied-vote column: table 3 gets exactly 2 basketball + 2 soccer
        if t_idx == 3 and theme_name == "players":
            rows = rows[:0]
            intended = intended[:0]
            short_rows = []
            picks = (by_class["BasketballPlayer"][:2] + by_class["SoccerPlayer"][:2])
            for ent in picks:
                team_uri = relation.get(_prop("playsFor"), {}).get(ent.uri)
                team_lbl = ent_by_uri[team_uri].label if team_uri else ""
                rows.append([ent.label, team_lbl, str(rng.randint(1, 50))])
                intended.append({0: ent.uri, 1: team_uri})

        content = _mk_csv(header, rows)
        tables.append(Table(
            table_id=table_id, repo=repo, path=path, header=header,
            rows=rows, intended=intended, entity_cols=entity_cols,
            short_rows=short_rows,
        ))
        repos.append((repo, path, _commit_for(path, seed), "csv", content))

    # decoy non-CSV rows that discovery must filter out (FIXTURES.md §1)
    for i in range(max(4, n_tables // 4)):
        p = f"src/module_{i}.py"
        repos.append((
            f"org{i % 7}/data-tables", p, _commit_for(p, seed), "python",
            f"def f_{i}(x):\n    return x * {i}\n",
        ))
        p2 = f"docs/README_{i}.md"
        repos.append((
            f"org{i % 7}/data-tables", p2, _commit_for(p2, seed), "markdown",
            f"# readme {i}\nnot,a,real.csv\n",
        ))

    # cross-KG twins (D4, matching/kg_matching.py:394-440): every 4th
    # base entity gets a wikidata-role twin, typed in the wd class
    # namespace; one in five twins is a disambiguation page. Only the
    # twins' rdf:type triples are kept: they give the type cascade's
    # ontology-namespace filter classes to drop.
    wd_class_of = {
        _cls(c): WD_ONTOLOGY_NS + f"Q{1000 + i}"
        for i, c in enumerate(classes)
    }
    qn = 1
    for i, e in enumerate(base_entities):
        if i % 4 == 1 and not e.is_disambiguation and e.types:
            wd_uri = WD_RESOURCE_NS + f"Q{qn}"
            qn += 1
            if i % 20 == 1:
                triples.append(
                    (wd_uri, RDF_TYPE, WD_DISAMBIGUATION_CLASS, False)
                )
            else:
                triples.append(
                    (wd_uri, RDF_TYPE, wd_class_of[e.types[0]], False)
                )

    # OWL meta-typing noise: a real ontology graph types its classes as
    # owl:Class and individuals as owl:NamedIndividual — P3 must filter
    # these meta-classes out of projected rdf:type triples
    # (ontology_projection.py:1046-1066 FILTER list)
    for c in classes:
        triples.append((_cls(c), RDF_TYPE, OWL_CLASS, False))
    for e in base_entities[:5]:
        triples.append((e.uri, RDF_TYPE, OWL_NAMED_INDIVIDUAL, False))

    return FixtureCorpus(
        seed=seed,
        classes=class_rows,
        edges=edge_rows,
        equivalent=equiv_rows,
        entities=entities,
        triples=triples,
        property_meta=prop_meta,
        tables=tables,
        repos=repos,
    )
