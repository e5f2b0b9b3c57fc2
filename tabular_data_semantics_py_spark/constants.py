"""KG namespaces, blocklists and URI constants.

Mirrors the reference's ``kg/entity.py`` constant tables:
- namespaces:            kg/entity.py:17-32
- predicate blocklist:   kg/entity.py:37-60 (URI_KG.avoid_predicates)
- top-concept blocklist: kg/entity.py:63-74 (URI_KG.avoid_top_concepts)
- disambiguation class:  kg/entity.py:34 (wikidata Q4167410)

The fixture KG uses a self-contained ``tds:`` namespace but keeps the
same structural roles (resource ns, ontology ns, blocklists) so every
filter operator from SURVEY.md §2.2 has something real to filter.
"""

# --- namespaces (roles match kg/entity.py:17-32) -------------------------
RESOURCE_NS = "http://tds.example.org/resource/"
ONTOLOGY_NS = "http://tds.example.org/ontology/"
PROPERTY_NS = "http://tds.example.org/property/"
TABLE_BASE = "http://tds.example.org/table/"

# second KG (wikidata-role) namespaces: the fixture generator gives
# some entities a sameAs twin here (matching/kg_matching.py:394-440
# shape), and the twins' triples stay in the corpus's kg_triples
WD_RESOURCE_NS = "http://tds.example.org/wd/resource/"
WD_ONTOLOGY_NS = "http://tds.example.org/wd/ontology/"
WD_DISAMBIGUATION_CLASS = WD_ONTOLOGY_NS + "Q4167410"

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
OWL_NAMED_INDIVIDUAL = "http://www.w3.org/2002/07/owl#NamedIndividual"
OWL_DATATYPE_PROPERTY = "http://www.w3.org/2002/07/owl#DatatypeProperty"
OWL_CLASS = "http://www.w3.org/2002/07/owl#Class"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

# provenance annotation properties (reference: oaei/tabular2rdf.py:75-86,
# tdkg:table / tdkg:column / tdkg:row)
ANN_TABLE = PROPERTY_NS + "table"
ANN_COLUMN = PROPERTY_NS + "column"
ANN_ROW = PROPERTY_NS + "row"

# --- blocklists -----------------------------------------------------------
# Role of URI_KG.avoid_predicates (kg/entity.py:37-60): noisy predicates
# excluded from neighborhood extraction and CPA voting.
AVOID_PREDICATES = frozenset(
    {
        PROPERTY_NS + "wikiPageWikiLink",
        PROPERTY_NS + "abstract",
        PROPERTY_NS + "comment",
        PROPERTY_NS + "subject",
        PROPERTY_NS + "seeAlso",
        RDFS_LABEL,
    }
)

# Role of URI_KG.avoid_top_concepts (kg/entity.py:63-74): overly generic
# classes dropped from distance maps / type sets.
AVOID_TOP_CONCEPTS = frozenset(
    {
        "http://www.w3.org/2002/07/owl#Thing",
        ONTOLOGY_NS + "Entity",
    }
)

# Generic "Agent"-like class removed from ancestor sets and type lists
# (reference: ontology/onto_access.py:346-356, challenge_utils.py:201-203).
AGENT_CLASS = ONTOLOGY_NS + "Agent"

# Disambiguation-page marker: when present, the entity's type set is
# cleared (matching/kg_matching.py:417-420; constant kg/entity.py:34).
DISAMBIGUATION_CLASS = ONTOLOGY_NS + "DisambiguationPage"

# --- linking knobs (pinned; see SURVEY.md §7 "Determinism") ---------------
TOP_K_CANDIDATES = 5  # lookup maxResults default (kg/lookup.py:95-106)
FUZZY_MIN_SCORE = 0.5  # minimum lexical score for a fuzzy candidate
TYPE_BONUS = 0.3  # column-coherence bonus weight in CEA re-scoring
REDIRECT_MAX_HOPS = 2  # bounded closure (test/challenge_utils.py:441-453)
PREDICATE_TOP_RANGE = 2  # top-2 range types (kg_matching.py:357-389)
