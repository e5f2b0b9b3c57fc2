"""KG fragment extraction — SURVEY.md §2.8 E5, all three arms of
``oaei/dbpedia_fragment.py``:

1. CEA-GT entities (ref 172-211): the annotated entities themselves.
2. Per-cell lookup top-3 on the main column (ref 234-302): each
   distinct main-column mention contributes its top-3 candidate
   entities, typed owl:NamedIndividual plus their namespace-filtered
   index types.
3. Class instances (ref 530-560 getInstancesForTypes): for each CTA
   class, a capped deterministic member sample typed with the class.

All collected entities then get a capped 1-hop neighborhood with the
predicate blocklist and the reference's literal-vs-object routing
(ref 373-443, 504-528): a property classified as object-valued (A6
majority rule) keeps only objects inside the resource namespace;
a data-valued property literal-izes every object; object-valued
properties with non-resource objects are dropped (this is why
rdf:type edges — ontology-namespace objects — do not re-enter through
the neighborhood arm, exactly as in the reference's
``http://dbpedia.org/resource/`` filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .topk import bounded_min_k
from ..constants import (
    AVOID_PREDICATES,
    ONTOLOGY_NS,
    OWL_NAMED_INDIVIDUAL,
    RDF_TYPE,
    RESOURCE_NS,
)

LOOKUP_TOP_K = 3  # per-cell lookup top-3 (ref 234-302)
MEMBERS_CAP = 5  # members sampled per CTA class
PER_ENTITY_CAP = 5  # neighborhood triples per entity


def fragment_full(
    cea_df: DataFrame,
    cells_m: DataFrame,
    candidates: DataFrame,
    cta_df: DataFrame,
    entity_index: DataFrame,
    kg_triples: DataFrame,
) -> DataFrame:
    """→ (subj, pred, obj, obj_is_literal) distinct."""
    # arm 1: CEA entities
    e1 = cea_df.select("uri").distinct()

    # arm 2: per-cell lookup top-k on the main column (dedup by
    # mention first — the reference's visited_values cache as dataflow)
    main_mentions = (
        cells_m.where((F.col("col") == 0) & (F.col("mention_norm") != ""))
        .select("mention_norm")
        .distinct()
    )
    look = (
        main_mentions.join(
            candidates.where(F.col("cand_rank") <= LOOKUP_TOP_K),
            "mention_norm",
        )
        .select("uri")
        .distinct()
    )
    named = look.select(
        F.col("uri").alias("subj"), F.lit(RDF_TYPE).alias("pred"),
        F.lit(OWL_NAMED_INDIVIDUAL).alias("obj"),
        F.lit(False).alias("obj_is_literal"),
    )
    lookup_types = (
        look.join(entity_index.select("uri", "types"), "uri")
        .select(
            F.col("uri").alias("subj"),
            F.lit(RDF_TYPE).alias("pred"),
            F.explode(
                F.filter(
                    F.col("types"), lambda t: t.startswith(F.lit(ONTOLOGY_NS))
                )
            ).alias("obj"),
            F.lit(False).alias("obj_is_literal"),
        )
    )

    # arm 3: capped deterministic member sample per CTA class. The cap
    # is a salted bounded min-k, NOT a row_number window — a hot class
    # (10^8 members of one type is normal at corpus scale) would put
    # every member into one sort task (VERDICT r02 finding #1).
    cls = cta_df.select("cls").distinct()
    members = bounded_min_k(
        kg_triples.where(F.col("pred") == RDF_TYPE)
        .join(cls, F.col("obj") == F.col("cls"))
        .select("cls", F.col("subj").alias("member")),
        keys=["cls"], order_cols=["member"], k=MEMBERS_CAP,
    )
    member_types = members.select(
        F.col("member").alias("subj"), F.lit(RDF_TYPE).alias("pred"),
        F.col("cls").alias("obj"), F.lit(False).alias("obj_is_literal"),
    )

    ents = (
        e1.union(look).union(members.select(F.col("member").alias("uri")))
        .distinct()
    )

    # A6 property-kind majority over the full triple store
    kind = (
        kg_triples.groupBy("pred")
        .agg(
            F.sum(
                F.when(F.col("obj").startswith("http"), 1).otherwise(0)
            ).alias("n_uri"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .withColumn("is_object", 2 * F.col("n_uri") > F.col("n_total"))
        .select("pred", "is_object")
    )

    # capped 1-hop neighborhood, then literal/object routing — same
    # bounded min-k (a hub entity's triples would otherwise be one
    # sort task)
    nb = (
        bounded_min_k(
            kg_triples.join(ents, kg_triples.subj == ents.uri)
            .where(~F.col("pred").isin(*sorted(AVOID_PREDICATES)))
            .select("subj", "pred", "obj"),
            keys=["subj"], order_cols=["pred", "obj"], k=PER_ENTITY_CAP,
        )
        .join(F.broadcast(kind), "pred")
        .where(
            (F.col("is_object") & F.col("obj").startswith(RESOURCE_NS))
            | (~F.col("is_object"))
        )
        .select(
            "subj", "pred", "obj",
            (~F.col("is_object")).alias("obj_is_literal"),
        )
    )

    return (
        named.unionByName(lookup_types)
        .unionByName(member_types)
        .unionByName(nb)
        .distinct()
    )
