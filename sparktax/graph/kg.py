"""KnowledgeGraph facade — a pure DataFrame veneer over one ``triples`` table.

The reference materializes three nested dict indexes ``_h/_r/_t`` for O(1)
triple-pattern lookup at a ~3× memory cost (~20 GB for DBpedia, reference
libs/graph/knowledge_graph.py:17,29-30,42-57). Here the single columnar
``triples(h, r, t)`` DataFrame + Catalyst replaces all three: a pattern
lookup is a ``filter`` whose predicates push down to the parquet scan, and
dictionary decode is a broadcast hash join against the small dims.

Scale notes (100 TB design point):

* persist ``triples`` partitioned/bucketed by ``h`` — the hottest access
  path (out-neighborhood); ``r`` is low-cardinality → partition pruning via
  a secondary ``partitionBy('r')`` layout for isa-heavy scans is optional.
* ``entities``/``relations`` dims are orders of magnitude smaller than
  triples → always broadcast.
* deterministic sampling replaces the reference's unseeded
  ``random.sample`` (libs/sampling/sampler.py:13-19): order by
  ``xxhash64(id, seed)`` then ``limit`` — reproducible on any cluster size.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from sparktax.hashing import seeded_hash

# relations dropped by the reference's `lightweight` mode
# (libs/graph/knowledge_graph.py:160-162)
LIGHTWEIGHT_EXCLUDED = ("rdfs:label", "foaf:name", "dcterms:description")
ISA_URI = "rdf:type"


def encode_triples(
    raw: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    method: str = "dense",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Dictionary-encode string triples → (triples(h,r,t), entities, relations).

    ``method="dense"`` — id = ``row_number() over (order by uri)`` on the
    distinct dims (dense ids from 0, deterministic — unlike the reference's
    insertion-order ids, libs/graph/id_mapper.py:30-43). The window is a
    single partition: fine while the entity dim fits one executor (≤ tens
    of millions of uris), and required when dense ids matter (OpenKE
    export).

    ``method="hash"`` — the 100 TB path: id = ``xxhash64(uri)``. No global
    sort, no single-partition stage, fully parallel; ids are opaque 64-bit
    (collision odds ≈ n²/2⁶⁵ — at 10⁹ entities ≈ 3%% chance of ONE
    collision; acceptable for analytics, switch to dense for archival
    exports). The encode becomes three column expressions — the dims are
    only materialized for decode joins.
    """
    if method == "hash":
        entities = (
            raw.select(F.col(subj).alias("uri"))
            .union(raw.select(F.col(obj).alias("uri")))
            .distinct()
            .select(F.xxhash64("uri").alias("id"), "uri")
        )
        relations = (
            raw.select(F.col(pred).alias("uri"))
            .distinct()
            .select(F.xxhash64("uri").alias("id"), "uri")
        )
        triples = raw.select(
            F.xxhash64(F.col(subj)).alias("h"),
            F.xxhash64(F.col(pred)).alias("r"),
            F.xxhash64(F.col(obj)).alias("t"),
        )
        return triples, entities, relations

    ents = (
        raw.select(F.col(subj).alias("uri"))
        .union(raw.select(F.col(obj).alias("uri")))
        .distinct()
    )
    w = Window.orderBy("uri")
    entities = ents.select(
        (F.row_number().over(w) - 1).cast("long").alias("id"), "uri"
    )
    rels = raw.select(F.col(pred).alias("uri")).distinct()
    relations = rels.select(
        (F.row_number().over(w) - 1).cast("long").alias("id"), "uri"
    )
    e = broadcast(entities)
    r = broadcast(relations)
    triples = (
        raw.join(e.withColumnRenamed("uri", subj).withColumnRenamed("id", "h"), subj)
        .join(r.withColumnRenamed("uri", pred).withColumnRenamed("id", "r"), pred)
        .join(e.withColumnRenamed("uri", obj).withColumnRenamed("id", "t"), obj)
        .select("h", "r", "t")
    )
    return triples, entities, relations


class KnowledgeGraph:
    """Triples + dims + query API (reference KnowledgeGraph, Spark-first)."""

    def __init__(
        self,
        triples: DataFrame,
        entities: DataFrame,
        relations: DataFrame,
        isa_uri: str = ISA_URI,
    ):
        self.triples = triples
        self.entities = entities
        self.relations = relations
        self.isa_uri = isa_uri
        self._isa_id: int | None = None
        # optional co-located copies (see with_colocated)
        self.triples_by_h: DataFrame | None = None
        self.triples_by_t: DataFrame | None = None
        # optional valid-class override (see with_valid_types)
        self._valid_type_ids: DataFrame | None = None

    # -------------------------------------------------- construction
    @classmethod
    def from_raw_triples(cls, raw: DataFrame, **kw) -> "KnowledgeGraph":
        t, e, r = encode_triples(raw)
        return cls(t, e, r, **kw)

    def cache(self) -> "KnowledgeGraph":
        self.triples = self.triples.cache()
        self.entities = self.entities.cache()
        self.relations = self.relations.cache()
        return self

    def with_colocated(
        self, by_h: DataFrame | None = None, by_t: DataFrame | None = None
    ) -> "KnowledgeGraph":
        """Attach bucketed dual copies of the triples table (same rows,
        hash-bucketed on ``h`` resp. ``t`` at write time — the layout trick
        of :func:`sparktax.catalog.write_bucketed`). Join-shaped consumers
        (:func:`sparktax.induction.mine_atoms`'s 2-hop self-join) then read
        the copy co-located on their join key and plan with zero shuffle
        Exchanges — the Spark analog of the reference's three in-memory
        ``_h/_r/_t`` indexes (libs/graph/knowledge_graph.py:17,42-51)."""
        self.triples_by_h = by_h
        self.triples_by_t = by_t
        return self

    def triples_keyed_on(self, key: str) -> DataFrame:
        """The cheapest copy of the triples table for an equi-join on
        ``key`` ('h' or 't'): the co-located bucketed copy when attached,
        else the plain table."""
        co = self.triples_by_h if key == "h" else self.triples_by_t
        return co if co is not None else self.triples

    # -------------------------------------------------- id/name dispatch
    def entity_id(self, name: str) -> int:
        row = self.entities.filter(F.col("uri") == name).select("id").first()
        if row is None:
            raise KeyError(name)
        return row[0]

    def relation_id(self, name: str) -> int:
        row = self.relations.filter(F.col("uri") == name).select("id").first()
        if row is None:
            raise KeyError(
                f"relation {name!r} not in graph — if this graph was built from "
                f"transcripts the isa relation is probably 'is_a'; pass "
                f"isa_uri= to KnowledgeGraph"
            )
        return row[0]

    @property
    def isa(self) -> int:
        if self._isa_id is None:
            self._isa_id = self.relation_id(self.isa_uri)
        return self._isa_id

    def _coerce(self, v, kind: str) -> int | None:
        if v is None or isinstance(v, int):
            return v
        return self.relation_id(v) if kind == "r" else self.entity_id(v)

    # -------------------------------------------------- pattern queries (O9)
    def find_triples(
        self,
        h=None,
        r=None,
        t=None,
        as_string: bool = False,
        max_results: int | None = None,
    ) -> DataFrame:
        """Triple-pattern lookup — all 8 bound/unbound combinations as one
        ``filter`` (reference dispatches 8 code paths over 3 dict indexes,
        libs/graph/knowledge_graph.py:299-355; Catalyst's pushdown replaces
        the indexes)."""
        h, r, t = self._coerce(h, "h"), self._coerce(r, "r"), self._coerce(t, "t")
        preds = [
            F.col(c) == F.lit(v)
            for c, v in (("h", h), ("r", r), ("t", t))
            if v is not None
        ]
        df = self.triples
        if preds:
            df = df.filter(reduce(lambda a, b: a & b, preds))
        if max_results:
            df = df.limit(max_results)
        if as_string:
            df = self.decode(df)
        return df

    def decode(self, df: DataFrame) -> DataFrame:
        """ids → uris via broadcast dim joins (O14)."""
        e = broadcast(self.entities)
        r = broadcast(self.relations)
        return (
            df.join(e.withColumnRenamed("id", "h"), "h")
            .withColumnRenamed("uri", "h_uri")
            .join(r.withColumnRenamed("id", "r"), "r")
            .withColumnRenamed("uri", "r_uri")
            .join(e.withColumnRenamed("id", "t"), "t")
            .withColumnRenamed("uri", "t_uri")
            .select("h_uri", "r_uri", "t_uri")
        )

    # -------------------------------------------------- projections (O10)
    def heads(self, **kw) -> DataFrame:
        return self.find_triples(**kw).select("h").distinct()

    def tails(self, **kw) -> DataFrame:
        return self.find_triples(**kw).select("t").distinct()

    def rels(self, **kw) -> DataFrame:
        return self.find_triples(**kw).select("r").distinct()

    # -------------------------------------------------- membership (O11)
    def contains(self, h, r, t) -> bool:
        return bool(self.find_triples(h, r, t).limit(1).count())

    # -------------------------------------------------- neighborhood (O12)
    def neighborhood(self, e) -> DataFrame:
        """1-hop out+in adjacency grouped by relation (reference
        print_relations, knowledge_graph.py:376-396)."""
        e = self._coerce(e, "h")
        out = (
            self.triples.filter(F.col("h") == e)
            .groupBy("r")
            .agg(F.collect_list("t").alias("neighbors"))
            .withColumn("direction", F.lit("out"))
        )
        inn = (
            self.triples.filter(F.col("t") == e)
            .groupBy("r")
            .agg(F.collect_list("h").alias("neighbors"))
            .withColumn("direction", F.lit("in"))
        )
        return out.unionByName(inn)

    # -------------------------------------------------- filters (O13)
    def lightweight(self) -> "KnowledgeGraph":
        """Drop label/name/description triples (reference
        knowledge_graph.py:160-162)."""
        bad = broadcast(
            self.relations.filter(F.col("uri").isin(*LIGHTWEIGHT_EXCLUDED)).select(
                F.col("id").alias("r")
            )
        )
        return KnowledgeGraph(
            self.triples.join(bad, "r", "left_anti"),
            self.entities,
            self.relations,
            self.isa_uri,
        )

    def with_valid_types(self, ids: DataFrame | None = None) -> "KnowledgeGraph":
        """Override the valid-class set used by :meth:`valid_type_ids`.

        The default predicate is the reference's DBpedia ontology filter
        (``dbo:`` uris) — EMPTY on transcript-extracted KGs, which would
        silently drop every concept atom in :func:`mine_atoms` and the
        expressive loop (observed at 100M scale: 7 waves, zero atoms).
        ``ids``: (id) DataFrame; ``None`` → every distinct ``isa`` tail,
        the same convention the pipeline's dataset stage uses."""
        if ids is None:
            ids = (
                self.triples_keyed_on("t")
                .filter(F.col("r") == self.isa)
                .select(F.col("t").alias("id"))
                .distinct()
            )
        self._valid_type_ids = ids
        return self

    def valid_type_ids(self) -> DataFrame:
        """Entity ids whose uri is a valid class name: startswith('dbo:') and
        no ':Wikidata' (reference predicate, knowledge_graph.py:167-169,
        also libs/axiom_extraction/graph_extraction.py:11-24). Transcript
        KGs have no dbo: ontology — see :meth:`with_valid_types`."""
        if self._valid_type_ids is not None:
            return self._valid_type_ids
        return self.entities.filter(
            F.col("uri").startswith("dbo:") & ~F.col("uri").contains(":Wikidata")
        ).select(F.col("id"))

    # -------------------------------------------------- aggregates (O20)
    def class_sizes(self, valid_only: bool = True) -> DataFrame:
        """Instances per class over isa triples (reference
        get_class_sizes, knowledge_graph.py:128-132). Groups on ``t``, so
        the ``t``-bucketed co-located copy (when attached) aggregates with
        no Exchange."""
        df = self.triples_keyed_on("t").filter(F.col("r") == self.isa)
        if valid_only:
            df = df.join(
                broadcast(self.valid_type_ids().withColumnRenamed("id", "t")), "t"
            )
        return df.groupBy("t").agg(F.count("*").alias("n_instances"))

    # -------------------------------------------------- extensions (O17)
    def instances_of_type(self, cls) -> DataFrame:
        """Extension of concept C: {h | (h, isa, C)}. The trailing
        distinct groups on ``h`` → exchange-free over the h-bucketed
        co-located copy."""
        cls = self._coerce(cls, "h")
        return (
            self.triples_keyed_on("h")
            .filter((F.col("r") == self.isa) & (F.col("t") == cls))
            .select("h")
            .distinct()
        )

    def instances_of_existential(self, rel, cls=None) -> DataFrame:
        """Extension of ∃R.C: heads of R whose tail has type C (C=None → ⊤),
        reference instances_from_atom, libs/sampling/sampler.py:51-76.
        The tail-side type set is usually small → broadcast semi-join;
        the head distinct runs over the h-bucketed copy when attached."""
        rel = self._coerce(rel, "r")
        edges = self.triples_keyed_on("h").filter(F.col("r") == rel)
        if cls is None:
            return edges.select("h").distinct()
        typed = self.instances_of_type(cls).withColumnRenamed("h", "t")
        return edges.join(typed, "t", "left_semi").select("h").distinct()

    # -------------------------------------------------- sampling (O54)
    def sample_instances(
        self,
        n: int,
        cls=None,
        exclude: DataFrame | None = None,
        seed: int = 42,
        rank_on: str = "xxhash64",
    ) -> DataFrame:
        """Deterministic uniform-without-replacement sample of entity ids:
        order by a seeded hash of the id + limit. Reference uses unseeded
        ``random.sample`` (knowledge_graph.py:357-374) — we seed for
        reproducibility (SURVEY §2.12).

        ``rank_on="xxhash64"`` (default) is the fast JVM path;
        ``rank_on="md5"`` ranks on the exact 60-bit integer value of the
        first 15 hex chars of ``md5(id || ':' || seed)`` — same sample
        quality, but replicable outside Spark (DuckDB etc. lack xxhash64;
        the driver correctness gate uses this mode)."""
        pool = (
            self.instances_of_type(cls)
            if cls is not None
            else self.triples.select("h").distinct()
        )
        if exclude is not None:
            pool = pool.join(exclude, "h", "left_anti")
        key = seeded_hash(F.col("h"), rank_on, seed, name="rank_on")
        return pool.orderBy(key, F.col("h")).limit(n).select("h")
