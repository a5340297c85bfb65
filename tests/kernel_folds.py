"""SQL higher-order-function folds that the pipeline's Arrow kernels must
reproduce bit-for-bit.

Each production kernel (`signature_bits`, `_assign_to_centroids`,
`_with_signature`, `_tf_frame`) is one vectorized Arrow UDF. These folds
are the reference forms it is pinned against: the same arithmetic written
as per-element Spark SQL expressions, the shape the DuckDB oracle in
``__spark_entry__.py`` replays. They are interpreted (higher-order
functions are CodegenFallback), which is why none of them runs in the
package.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hgraphstorage_spark.pipeline.dedup import MINHASH_P, _parallel, md5_long
from hgraphstorage_spark.pipeline.similarity import _plane_component, cosine
from hgraphstorage_spark.pipeline.text import WS_RE


def signature_fold(vec: Column, dims: int, bits: int, seed: int = 0) -> Column:
    """Random-hyperplane signature as a nested fold: bit p is set when the
    ascending-dim float64 dot of ``vec`` with plane ``seed + p`` is > 0."""
    one = F.lit(1).cast("long")
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("long"),
        lambda acc, p: F.when(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(dims - 1)),
                F.lit(0.0),
                lambda dacc, d: dacc
                + F.element_at(vec, d + 1).cast("double") * _plane_component(p + F.lit(seed), d),
            )
            > 0,
            acc.bitwiseOR(F.call_function("shiftleft", one, p)),
        ).otherwise(acc),
    )


def assign_fold(
    frame: DataFrame, cent_rows: DataFrame, id_col: str, vec_col: str, out_col: str
) -> DataFrame:
    """Nearest centroid by cosine, ties to the smaller cid: explode the
    broadcast centroid list and keep ``max_by(cid, struct(csim, -cid))``
    per vector. Returns (vec_id, <out_col>)."""
    cents = cent_rows.groupBy().agg(F.collect_list(F.struct("cid", "cvec")).alias("cents"))
    return (
        frame.crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("_vec"),
            F.explode("cents").alias("c"),
        )
        .select(
            "vec_id",
            F.col("c.cid").alias("cid"),
            cosine(F.col("_vec"), F.col("c.cvec")).alias("csim"),
        )
        .groupBy("vec_id")
        .agg(F.max_by("cid", F.struct(F.col("csim"), -F.col("cid"))).alias(out_col))
    )


def with_signature_fold(sh_df: DataFrame, k: int, hash_mode: str = "xxhash64") -> DataFrame:
    """k-permutation MinHash over a (doc_id, sh, ...) frame: per shingle
    a = h mod P and b = (h >> 29) mod P (md5) or xxhash64(h, 1) mod P,
    then sig[i] = min over shingles of pmod(a + i*b, P)."""
    P = MINHASH_P
    if hash_mode == "md5":
        second = lambda h: F.pmod(F.shiftright(h, 29), F.lit(P))  # noqa: E731
    else:
        second = lambda h: F.pmod(F.xxhash64(h, F.lit(1)), F.lit(P))  # noqa: E731
    with_ab = sh_df.withColumn(
        "_ab",
        F.transform(
            F.col("sh"),
            lambda h: F.struct(F.pmod(h, F.lit(P)).alias("a"), second(h).alias("b")),
        ),
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("_ab"), lambda s: F.pmod(s["a"] + i.cast("long") * s["b"], F.lit(P))
            )
        ),
    )
    return with_ab.withColumn("sig", sig).drop("_ab")


def tf_frame_fold(
    docs: DataFrame, d: int, text_col: str, id_col: str, hash_mode: str
) -> DataFrame:
    """(doc_id, _tf ARRAY<DOUBLE>[d]) per-doc bucket counts as an
    `aggregate` fold over the token buckets; zero-token docs excluded."""
    if hash_mode == "md5":
        bucket = lambda t: md5_long(t) % d  # noqa: E731
    else:
        bucket = lambda t: F.pmod(F.xxhash64(t), F.lit(d))  # noqa: E731
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda t: F.length(t) > 0
    )
    bucketed = _parallel(docs).select(
        F.col(id_col).alias("doc_id"),
        F.transform(toks, lambda t: bucket(t).cast("int")).alias("_bs"),
    )
    tf = F.aggregate(
        F.col("_bs"),
        F.array_repeat(F.lit(0.0), d),
        lambda acc, b: F.transform(acc, lambda x, i: x + F.when(i == b, 1.0).otherwise(0.0)),
    )
    return bucketed.filter(F.size("_bs") > 0).select("doc_id", tf.alias("_tf"))
