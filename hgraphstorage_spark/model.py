"""Type-dictionary ("Model") parity layer.

The reference maintains bidirectional name↔id Lookups for object,
relation and property types (``HGraphStorage/src/.../Types.hs:335-363``),
rebuilt at open by folding the dictionary files (``FileOps.hs:113-148``),
serialized as strings in STMGraph (``modelToString``/``stringToModel``,
``STMGraph/src/.../Types.hs:318-327``).

Spark-side, labels are carried inline as strings (dictionary encoding is
parquet's job — SURVEY.md §1.3); this module provides the *optional*
dictionary DataFrame for parity tests and for exports that want compact
int type ids. IDs are dense, 1-based, assigned in lexicographic name
order (deterministic — the reference assigns in first-use order, which is
storage-dependent; divergence documented).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from hgraphstorage_spark import schemas
from hgraphstorage_spark.snapshot import GraphSnapshot


def build_model(snap: GraphSnapshot) -> DataFrame:
    """(kind, name, type_id): kind ∈ 'node_type' | 'edge_type' |
    'property_type'. Property types are keyed on (name, dtype) — the same
    name with a different dtype is a different type (``Types.hs:338``)."""
    node_types = snap.nodes.select(F.lit("node_type").alias("kind"), F.col("label").alias("name")).distinct()
    edge_types = snap.edges.select(F.lit("edge_type").alias("kind"), F.col("label").alias("name")).distinct()
    prop_types = (
        snap.props.select(
            F.lit("property_type").alias("kind"),
            F.concat_ws(":", F.col("name"), F.col("dtype")).alias("name"),
        ).distinct()
    )
    all_types = node_types.unionByName(edge_types).unionByName(prop_types)
    w = Window.partitionBy("kind").orderBy("name")
    return all_types.select("kind", "name", F.row_number().over(w).alias("type_id"))


class ModelDict:
    """MAINTAINED type dictionary (reference M8 upsert parity): ids are
    assigned in first-use order as writes arrive — the reference's
    behavior (``FileOps.hs:113-148`` folds the dictionary file in write
    order; new types append) — instead of being derived lexicographically
    after the fact. ``GraphEngine`` notes each label / property type at
    mutation time (driver-side, no Spark job); bulk DataFrame ingests mark
    the dict dirty and fold unseen types in on next access.
    """

    def __init__(self):
        self._ids: dict[tuple[str, str], int] = {}
        self._next: dict[str, int] = {}
        self.dirty = False

    def note(self, kind: str, name: str) -> int:
        """Upsert one type (reference ``addToLookup``): existing name keeps
        its id, a new name takes the next id for its kind."""
        key = (kind, name)
        got = self._ids.get(key)
        if got is not None:
            return got
        nxt = self._next.get(kind, 0) + 1
        self._next[kind] = nxt
        self._ids[key] = nxt
        return nxt

    def note_property(self, name: str, value) -> int:
        return self.note("property_type", f"{name}:{schemas.infer_dtype(value)}")

    def fold_snapshot(self, snap: GraphSnapshot) -> None:
        """Absorb types present in a snapshot that arrived via bulk
        DataFrame ingest (one distinct-scan job; unseen types append in
        lexicographic order within the batch for determinism)."""
        derived = build_model(snap)
        for kind, name in sorted(
            (r["kind"], r["name"]) for r in derived.select("kind", "name").collect()
        ):
            self.note(kind, name)
        self.dirty = False

    def lookup(self, kind: str, name: str) -> int | None:
        return self._ids.get((kind, name))

    def name_of(self, kind: str, type_id: int) -> str | None:
        for (k, n), i in self._ids.items():
            if k == kind and i == type_id:
                return n
        return None

    def to_df(self, spark) -> DataFrame:
        rows = [(k, n, i) for (k, n), i in sorted(self._ids.items())]
        return schemas.local_frame(spark, rows, "kind string, name string, type_id int")


def model_to_string(model: DataFrame) -> str:
    """Serialize the dictionary (reference ``modelToString``)."""
    rows = sorted((r["kind"], r["name"], r["type_id"]) for r in model.collect())
    return json.dumps(rows)


def string_to_model(spark, s: str) -> DataFrame:
    """Inverse (reference ``stringToModel``)."""
    rows = [tuple(r) for r in json.loads(s)]
    return schemas.local_frame(spark, rows, "kind string, name string, type_id int")
