"""Plain-Python oracle: sequential re-execution of the reference's
annotation logic over a FixtureCorpus. Output = the goldens the Spark
pipeline is scored against (P/R ≥ 0.95, BASELINE.md).

This module deliberately mirrors the *reference's* control flow
(dict/set loops, memo caches — test/challenge_utils.py:22-181,
matching/kg_matching.py:254-440) rather than the Spark pipeline's
dataflow, so the two implementations are independent at the decision
level. Tie-breaks are pinned lexicographically (SURVEY.md §7
"Determinism": the reference ties by dict-insertion order, which is
not reproducible; both sides here use the same pinned rule).

Pinned decision spec (authoritative for both implementations)
--------------------------------------------------------------
candidates(mention):
  exact key match (score 1.0) on normalized label/alias; if none,
  fuzzy over entities sharing ≥1 token with the mention, score =
  0.5*edit_sim + 0.5*token_jaccard, keep ≥ FUZZY_MIN_SCORE; rank by
  (score desc, popularity desc, uri asc), top TOP_K_CANDIDATES.
redirects: follow redirect_to ≤ REDIRECT_MAX_HOPS, dedup by final uri
  keeping max score (challenge_utils.py:441-453).
types(entity) cascade (kg_matching.py:301-355 structure):
  lookup types (cleared for disambiguation pages, kg_matching.py:417-420)
  → else endpoint (rdf:type) types filtered to those compatible with
  predicate-strategy types, falling back to raw endpoint types
  → else predicate-strategy types. Expanded with ontology ancestors,
  minus AVOID_TOP_CONCEPTS.
CEA: phase-1 pick per cell by (score, popularity, uri); column type
  vote shares from phase-1; phase-2 final score = score +
  TYPE_BONUS * max vote-share over candidate's types; argmax.
CTA: per-entity most-specific reduction (drop Agent + any strict
  ancestor of another held type, challenge_utils.py:196-245), vote per
  (table, col) (challenge_utils.py:121-126), winner by (count desc,
  class asc) (challenge_utils.py:184-193), ancestors of winner minus
  Agent (challenge_utils.py:150-160).
CPA: per (main col=min entity col, other entity col), vote predicates
  of (subj_entity, p, obj_entity) triples, blocklist filtered
  (kg/endpoints.py:317-338), winner by (count desc, pred asc).
emission: tabular2rdf.py:120-172 URI-minting scheme (see constants).
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass, field

from ..constants import (
    AGENT_CLASS,
    ANN_COLUMN,
    ANN_ROW,
    ANN_TABLE,
    AVOID_PREDICATES,
    AVOID_TOP_CONCEPTS,
    FUZZY_MIN_SCORE,
    ONTOLOGY_NS,
    OWL_DATATYPE_PROPERTY,
    OWL_NAMED_INDIVIDUAL,
    OWL_SAMEAS,
    PREDICATE_TOP_RANGE,
    RDF_TYPE,
    RDFS_LABEL,
    REDIRECT_MAX_HOPS,
    TABLE_BASE,
    TOP_K_CANDIDATES,
    TYPE_BONUS,
)
from ..functions.normalize import lexical_score, normalize_mention
from .generator import FixtureCorpus


@dataclass
class GoldAnnotations:
    cells: list[tuple[str, int, int, str]]  # table, row, col, cell
    cea: list[tuple[str, int, int, str]]  # table, col, row, entity uri
    cta: list[tuple[str, int, str, str]]  # table, col, class, ancestors " "
    cpa: list[tuple[str, int, int, str]]  # table, col_subj, col_obj, pred
    triples: list[tuple[str, str, str, bool]]
    # per (table,col,row) normalized mention (exported for oracle SQL CTEs)
    mention_norm: dict[tuple[str, int, int], str] = field(default_factory=dict)
    # per (table,col,row) ranked candidates (uri, score) after redirects
    candidates: dict[tuple[str, int, int], list[tuple[str, float]]] = field(
        default_factory=dict
    )


def parse_csv_content(content: str) -> tuple[list[str], list[tuple[int, list[str]]]]:
    """Parse one CSV artifact exactly as the reference does
    (csv.reader, delimiter=',', quotechar='"', escapechar='\\' —
    test/challenge_utils.py:534). Returns (header, [(row_idx, cells)])
    where row_idx is the 0-based physical data-row index and short
    rows are skipped (oaei/tabular2rdf.py:213-215); long rows are
    truncated to the header width."""
    reader = csv.reader(
        io.StringIO(content), delimiter=",", quotechar='"', escapechar="\\"
    )
    rows = list(reader)
    if not rows:
        return [], []
    header = rows[0]
    out: list[tuple[int, list[str]]] = []
    for i, row in enumerate(rows[1:]):
        if len(row) < len(header):
            continue
        out.append((i, row[: len(header)]))
    return header, out


class OracleExecutor:
    """Sequential reference-semantics executor with memo caches
    (the reference's main 'optimization', challenge_utils.py:103-118)."""

    def __init__(self, corpus: FixtureCorpus):
        self.corpus = corpus
        self.ent = corpus.entity_by_uri()
        self.closure = corpus.closure()
        # descendants map for compatibility checks (kg_matching.py:596-624)
        self.descendants: dict[str, set[str]] = {}
        for c, ancs in self.closure.items():
            for a in ancs:
                self.descendants.setdefault(a, set()).add(c)
        # lexical index: normalized key → [(uri, popularity)]
        self.key_index: dict[str, list[str]] = {}
        self.token_index: dict[str, set[str]] = {}
        self.entity_keys: dict[str, set[str]] = {}
        for e in corpus.entities:
            keys = {normalize_mention(e.label)} | {
                normalize_mention(a) for a in e.aliases
            }
            keys.discard("")
            self.entity_keys[e.uri] = keys
            for k in keys:
                self.key_index.setdefault(k, []).append(e.uri)
                for tok in k.split():
                    self.token_index.setdefault(tok, set()).add(e.uri)
        # triple-store indexes
        self.types_of: dict[str, set[str]] = {}
        self.triples_by_subj: dict[str, list[tuple[str, str, bool]]] = {}
        self.preds_of_obj: dict[str, list[str]] = {}
        self.preds_of_subj: dict[str, list[str]] = {}
        for s, p, o, lit in corpus.triples:
            self.triples_by_subj.setdefault(s, []).append((p, o, lit))
            if p == RDF_TYPE:
                self.types_of.setdefault(s, set()).add(o)
            else:
                if not lit:
                    self.preds_of_obj.setdefault(o, []).append(p)
                self.preds_of_subj.setdefault(s, []).append(p)
        # every property_meta row of a predicate votes (SURVEY J9)
        self.prop_range: dict[str, list[str]] = {}
        self.prop_domain: dict[str, list[str]] = {}
        for p, d, r in corpus.property_meta:
            self.prop_range.setdefault(p, []).append(r)
            self.prop_domain.setdefault(p, []).append(d)
        self._cand_cache: dict[str, list[tuple[str, float]]] = {}
        self._type_cache: dict[str, frozenset[str]] = {}

    # --- candidate generation (J1 + redirects J3) -------------------------
    def resolve_redirect(self, uri: str) -> str:
        cur = uri
        for _ in range(REDIRECT_MAX_HOPS):
            e = self.ent.get(cur)
            if e is None or not e.redirect_to:
                break
            cur = e.redirect_to
        return cur

    def candidates(self, mention: str) -> list[tuple[str, float]]:
        norm = normalize_mention(mention)
        if not norm:
            return []
        if norm in self._cand_cache:
            return self._cand_cache[norm]
        scored: dict[str, float] = {}
        exact = self.key_index.get(norm, [])
        for uri in exact:
            scored[uri] = 1.0
        if not exact:
            block: set[str] = set()
            for tok in norm.split():
                block |= self.token_index.get(tok, set())
            for uri in block:
                best = max(
                    (lexical_score(norm, k) for k in self.entity_keys[uri]),
                    default=0.0,
                )
                if best >= FUZZY_MIN_SCORE:
                    scored[uri] = best
        # redirect-resolve, keep max score per final uri
        final: dict[str, float] = {}
        for uri, sc in scored.items():
            f = self.resolve_redirect(uri)
            if f in self.ent:
                final[f] = max(final.get(f, 0.0), sc)
        ranked = sorted(
            final.items(),
            key=lambda kv: (-kv[1], -self.ent[kv[0]].popularity, kv[0]),
        )[:TOP_K_CANDIDATES]
        self._cand_cache[norm] = ranked
        return ranked

    # --- type cascade (D1-D6) ---------------------------------------------
    def _compatible(self, t: str, ref: set[str]) -> bool:
        """t compatible with ref iff t ∈ ancestors(s) ∪ descendants(s)
        ∪ {s} for some s ∈ ref (kg_matching.py:596-624)."""
        for s in ref:
            if t == s or t in self.closure.get(s, {}) or t in self.descendants.get(s, set()):
                return True
        return False

    def _predicate_types(self, uri: str) -> set[str]:
        """Predicate strategy (kg_matching.py:357-389): top-2 range
        types of predicates where the entity is the object, by
        (support desc, type asc); plus the top domain type where it is
        the subject if compatible with those range types."""
        range_votes: dict[str, int] = {}
        for p in self.preds_of_obj.get(uri, []):
            for r in self.prop_range.get(p, []):
                if r:
                    range_votes[r] = range_votes.get(r, 0) + 1
        ranked = sorted(range_votes.items(), key=lambda kv: (-kv[1], kv[0]))
        out = {t for t, _ in ranked[:PREDICATE_TOP_RANGE]}
        domain_votes: dict[str, int] = {}
        for p in self.preds_of_subj.get(uri, []):
            for d in self.prop_domain.get(p, []):
                if d:
                    domain_votes[d] = domain_votes.get(d, 0) + 1
        dranked = sorted(domain_votes.items(), key=lambda kv: (-kv[1], kv[0]))
        if dranked:
            top_d = dranked[0][0]
            if out and self._compatible(top_d, out):
                out.add(top_d)
        return out

    def types_for_entity(self, uri: str) -> frozenset[str]:
        """D-cascade + ancestor expansion; memoized
        (challenge_utils.py:103-118)."""
        if uri in self._type_cache:
            return self._type_cache[uri]
        e = self.ent.get(uri)
        lookup_types: set[str] = set()
        if e is not None and not e.is_disambiguation:
            lookup_types = {
                t for t in e.types
                if t.startswith(ONTOLOGY_NS) and t not in AVOID_TOP_CONCEPTS
            }
        if lookup_types:
            base = lookup_types
        else:
            endpoint_types = {
                t for t in self.types_of.get(uri, set())
                if t.startswith(ONTOLOGY_NS)
            }
            pred_types = self._predicate_types(uri)
            if endpoint_types and pred_types:
                compat = {
                    t for t in endpoint_types if self._compatible(t, pred_types)
                }
                base = compat if compat else endpoint_types
            elif endpoint_types:
                base = endpoint_types
            else:
                base = pred_types
        full = set(base)
        for t in base:
            for anc, d in self.closure.get(t, {}).items():
                if anc.startswith(ONTOLOGY_NS):
                    full.add(anc)
        full -= AVOID_TOP_CONCEPTS
        out = frozenset(full)
        self._type_cache[uri] = out
        return out

    def most_specific(self, types: frozenset[str]) -> set[str]:
        """Drop Agent, then any class that is a strict ancestor
        (depth ≥ 1) of another class in the set
        (challenge_utils.py:196-245)."""
        ts = {t for t in types if t != AGENT_CLASS}
        out = set()
        for t in ts:
            strict_anc_of_other = any(
                u != t and self.closure.get(u, {}).get(t, 0) >= 1 for u in ts
            )
            if not strict_anc_of_other:
                out.add(t)
        return out

    # --- the batch pipeline (EP2 trace) ------------------------------------
    def run(self) -> GoldAnnotations:
        gold = GoldAnnotations([], [], [], [], [])
        all_cells: dict[str, dict[tuple[int, int], str]] = {}
        headers: dict[str, list[str]] = {}
        for t in self.corpus.tables:
            header, rows = parse_csv_content(
                next(c for r_, p_, _c, _l, c in self.corpus.repos
                     if p_ == t.path)
            )
            headers[t.table_id] = header
            cellmap: dict[tuple[int, int], str] = {}
            for r_idx, row in rows:
                for c_idx, cell in enumerate(row):
                    cellmap[(r_idx, c_idx)] = cell
                    gold.cells.append((t.table_id, r_idx, c_idx, cell))
            all_cells[t.table_id] = cellmap

        # phase 1: per-cell candidates + prelim pick
        prelim: dict[tuple[str, int, int], str] = {}
        cand_per_cell: dict[tuple[str, int, int], list[tuple[str, float]]] = {}
        for tid, cellmap in all_cells.items():
            for (r, c), cell in cellmap.items():
                norm = normalize_mention(cell)
                if not norm:
                    continue
                gold.mention_norm[(tid, c, r)] = norm
                cands = self.candidates(cell)
                if not cands:
                    continue
                cand_per_cell[(tid, c, r)] = cands
                gold.candidates[(tid, c, r)] = cands
                prelim[(tid, c, r)] = cands[0][0]

        # column vote shares from phase-1 picks
        col_votes: dict[tuple[str, int], dict[str, int]] = {}
        col_n: dict[tuple[str, int], int] = {}
        for (tid, c, r), uri in prelim.items():
            col_n[(tid, c)] = col_n.get((tid, c), 0) + 1
            for t in self.types_for_entity(uri):
                col_votes.setdefault((tid, c), {})[t] = (
                    col_votes.get((tid, c), {}).get(t, 0) + 1
                )

        # phase 2: final CEA with column-coherence bonus
        cea: dict[tuple[str, int, int], str] = {}
        for key, cands in cand_per_cell.items():
            tid, c, r = key
            votes = col_votes.get((tid, c), {})
            n = col_n.get((tid, c), 1)
            best: tuple[float, int, str] | None = None
            best_uri = None
            for uri, sc in cands:
                share = 0.0
                for t in self.types_for_entity(uri):
                    v = votes.get(t, 0) / n
                    if v > share:
                        share = v
                final = sc + TYPE_BONUS * share
                rank = (-final, -self.ent[uri].popularity, uri)
                if best is None or rank < best:
                    best = rank
                    best_uri = uri
            cea[key] = best_uri  # type: ignore[assignment]
        for (tid, c, r), uri in sorted(cea.items()):
            gold.cea.append((tid, c, r, uri))

        # CTA: vote over most-specific types of CEA entities
        cta_votes: dict[tuple[str, int], dict[str, int]] = {}
        for (tid, c, r), uri in cea.items():
            ms = self.most_specific(self.types_for_entity(uri))
            for t in ms:
                cta_votes.setdefault((tid, c), {})[t] = (
                    cta_votes.get((tid, c), {}).get(t, 0) + 1
                )
        cta_winner: dict[tuple[str, int], str] = {}
        for (tid, c), votes in sorted(cta_votes.items()):
            if not votes:
                continue
            winner = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            cta_winner[(tid, c)] = winner
            ancs = sorted(
                a for a, d in self.closure.get(winner, {}).items()
                if d >= 1 and a.startswith(ONTOLOGY_NS)
                and a != AGENT_CLASS and a not in AVOID_TOP_CONCEPTS
            )
            gold.cta.append((tid, c, winner, " ".join(ancs)))

        # CPA: predicate voting between main col and other entity cols
        ecols: dict[str, set[int]] = {}
        for (tid, c, r) in cea:
            ecols.setdefault(tid, set()).add(c)
        for tid, cols in sorted(ecols.items()):
            main = min(cols)
            for j in sorted(cols):
                if j == main:
                    continue
                votes: dict[str, int] = {}
                rows_pair = {
                    r for (t2, c2, r) in cea if t2 == tid and c2 == main
                } & {r for (t2, c2, r) in cea if t2 == tid and c2 == j}
                for r in rows_pair:
                    s_uri = cea[(tid, main, r)]
                    o_uri = cea[(tid, j, r)]
                    for p, o, lit in self.triples_by_subj.get(s_uri, []):
                        if not lit and o == o_uri and p not in AVOID_PREDICATES \
                                and p != RDF_TYPE:
                            votes[p] = votes.get(p, 0) + 1
                if votes:
                    winner = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                    gold.cpa.append((tid, main, j, winner))

        # triple emission (tabular2rdf.py:120-172)
        triples: set[tuple[str, str, str, bool]] = set()
        for t in self.corpus.tables:
            tid = t.table_id
            header = headers[tid]
            for i, h in enumerate(header):
                prop = f"{TABLE_BASE}{tid}-col-{i}"
                triples.add((prop, RDF_TYPE, OWL_DATATYPE_PROPERTY, False))
                triples.add((prop, RDFS_LABEL, h, True))
            cellmap = all_cells[tid]
            rows_present = sorted({r for (r, _c) in cellmap})
            for r in rows_present:
                if not any(cellmap.get((r, i), "") for i in range(len(header))):
                    continue
                row_uri = f"{TABLE_BASE}{tid}-col-0-row-{r}"
                triples.add((row_uri, RDF_TYPE, OWL_NAMED_INDIVIDUAL, False))
                main_cell = cellmap.get((r, 0), "")
                if main_cell:
                    triples.add((row_uri, RDFS_LABEL, main_cell, True))
                triples.add((row_uri, ANN_TABLE, tid, True))
                triples.add((row_uri, ANN_COLUMN, "0", True))
                triples.add((row_uri, ANN_ROW, str(r), True))
                for i in range(1, len(header)):
                    cell = cellmap.get((r, i), "")
                    if cell:
                        prop = f"{TABLE_BASE}{tid}-col-{i}"
                        triples.add((row_uri, prop, cell, True))
                ent_uri = cea.get((tid, 0, r))
                if ent_uri:
                    triples.add((row_uri, OWL_SAMEAS, ent_uri, False))
                cls = cta_winner.get((tid, 0))
                if cls:
                    triples.add((row_uri, RDF_TYPE, cls, False))
        gold.triples = sorted(triples)
        return gold


def build_gold(corpus: FixtureCorpus) -> GoldAnnotations:
    return OracleExecutor(corpus).run()
