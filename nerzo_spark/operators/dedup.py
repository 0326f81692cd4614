"""MinHash-LSH near-duplicate pair generation with a band-size skew guard.

Scale shape (SURVEY.md LLM-pipeline ops; reference has no dedup — this is
the training-data-pipeline extension): candidates come from a band
equi-join — shuffle on the band key, NEVER an all-pairs product.  The one
remaining 100 TB hazard is a DEGENERATE BAND: M near-identical docs sharing
a band produce M(M-1)/2 candidate rows inside one join bucket (a quadratic
skew bomb no AQE split can fix, since it is real output volume, not
partition imbalance).  Guard: count docs per band (band-scale agg, one
cheap shuffle on the same key) and EXCLUDE bands larger than ``band_cap``
from pairing, logging what was dropped (no silent caps).  Docs in a dropped
band are near-exact duplicates by construction — the exact-dedup operator
(md5 groupBy, catalog_text.py dedup_exact_groups) already clusters those at
linear cost, so nothing is lost end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

DEFAULT_BAND_CAP = 64


def minhash_signatures(sh: DataFrame, n_hashes: int = 4) -> DataFrame:
    """(doc_id, s) exploded shingles -> one row per doc with mh0..mh{n-1}.
    One-pass hash-aggregate: map-side partial min, single shuffle on doc_id;
    md5-based so the signature is engine-portable (oracle parity)."""
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(f"mh{j}")
            for j in range(n_hashes)
        ]
    )


def _bands_of(sig: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id[, carry...], band) — TWO band rows per doc from one pass over
    the signature table (r7, guide §1.2: the previous union-of-two-selects
    evaluated the signature aggregation once per branch; explode emits the
    identical multiset from a single pass)."""
    return sig.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                F.md5(F.concat("mh0", "mh1")), F.md5(F.concat("mh2", "mh3"))
            )
        ).alias("band"),
    )


def _band_candidates(
    bands: DataFrame,
    band_cap: int,
    logger,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct candidate pairs (id_a[, <c>a...], id_b[, <c>b...]) from
    bands with <= band_cap members — the skew guard + no-silent-caps log
    shared by both minhash builders (a degenerate band of M near-identical
    docs would otherwise emit M(M-1)/2 rows of real output volume that no
    AQE split can fix; dropped members are near-exact dups covered by
    dedup_exact_groups)."""
    band_sizes = bands.groupBy("band").agg(F.count("*").alias("bcnt"))
    dropped = band_sizes.filter(F.col("bcnt") > band_cap)
    n_dropped = dropped.count()  # band-scale action; the no-silent-caps log
    if n_dropped > 0 and logger is not None:
        worst = dropped.agg(F.max("bcnt")).first()[0]
        logger(
            f"[minhash_lsh_pairs] skew guard: dropped {n_dropped} band(s) with "
            f"> {band_cap} docs (largest: {worst}); members are near-exact "
            f"dups — covered by exact dedup (dedup_exact_groups)"
        )
    kept = bands.join(
        band_sizes.filter(F.col("bcnt") <= band_cap).select("band"), "band"
    )
    sel = (
        [F.col("a.doc_id").alias("id_a")]
        + [F.col(f"a.{c}").alias(f"{c}a") for c in carry]
        + [F.col("b.doc_id").alias("id_b")]
        + [F.col(f"b.{c}").alias(f"{c}b") for c in carry]
    )
    return (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(*sel)
        .distinct()
    )


def minhash_lsh_pairs(
    sh: DataFrame,
    threshold: float = 0.5,
    band_cap: int = DEFAULT_BAND_CAP,
    logger=print,
) -> DataFrame:
    """Banded LSH candidate generation + exact-Jaccard verification.

    sh: (doc_id, s) DISTINCT shingles per doc (min over distinct == min over
    all, so one table feeds signatures, bands and the verify join).

    Returns (id_a, id_b, jaccard) for verified pairs with J >= threshold,
    considering only bands with <= band_cap member docs (skew guard above).
    Reuse: sh is persisted MEMORY_AND_DISK (in-memory columnar cache,
    uncompressed unless NERZO_CACHE_COMPRESSED=true — session.py) because
    it is read three times (signatures, sizes, verify).
    """
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sig = minhash_signatures(sh)
    bands = _bands_of(sig).persist(StorageLevel.MEMORY_AND_DISK)
    cand = _band_candidates(bands, band_cap, logger)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(sh.alias("x"), F.col("x.doc_id") == F.col("id_a"))
        .join(sh.alias("y"), (F.col("y.doc_id") == F.col("id_b")) & (F.col("y.s") == F.col("x.s")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") * 1.0 / (F.col("na.n") + F.col("nb.n") - F.col("i"))
    out = (
        inter.join(sizes.alias("na"), F.col("na.doc_id") == F.col("id_a"))
        .join(sizes.alias("nb"), F.col("nb.doc_id") == F.col("id_b"))
        .withColumn("jaccard", F.round(jac, 6))
        # filter on the SAME rounded expression that is returned, so no
        # emitted row can display a jaccard below the threshold
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # the pair table is tiny (verified near-dups); materialize it eagerly so
    # the two intermediate caches can be released NOW instead of leaking
    # executor memory for the rest of the session
    out = out.localCheckpoint(eager=True)
    bands.unpersist()
    sh.unpersist()
    return out


def minhash_lsh_pairs_rowform(
    doc_sh: DataFrame,
    explode_shingles=None,
    threshold: float = 0.5,
    band_cap: int = DEFAULT_BAND_CAP,
    logger=print,
) -> DataFrame:
    """Row-form twin of :func:`minhash_lsh_pairs` (r7, guide §2.3/§2.4):
    same pairs, same jaccard values, fraction of the shuffled bytes.

    ``doc_sh``: (doc_id, sh ARRAY<STRING>) — ONE row per doc carrying its
    DISTINCT shingle array.  Signatures and set sizes become per-row array
    expressions (``array_min(transform(...))`` == groupBy-min over the
    exploded table, ``size(sh)`` == exploded count), so the shingle table is
    never exploded corpus-wide, never persisted, and never shuffled; only
    CANDIDATE docs (pairs sharing a band, post skew-guard) are exploded for
    the exact-Jaccard verify — candidate-scale, not corpus-scale.  Band
    derivation, the band_cap skew guard (+ no-silent-caps logging) and the
    rounded-jaccard threshold are expression-identical to the exploded
    form, so outputs match bit-for-bit (asserted against the frozen DuckDB
    oracle at sf0.01/sf0.1 and by tests/test_dedup_units.py).

    ``explode_shingles``: optional callable ``(cand_ids_df) -> (doc_id, s)``
    producing the exploded distinct shingles of the candidate docs only.
    Callers SHOULD supply one whose explode sits directly over the source
    projection (see catalog_text._explode_shingles): exploding the aliased
    ``sh`` column lets CollapseProject inline the array-building expression
    into the Generate and re-evaluate it per element (measured 54 s vs
    1.6 s at sf1.0).  Default: explode ``doc_sh.sh`` (acceptable when the
    array is a stored column, pathological when it is an expression)."""
    base = doc_sh.select(
        "doc_id",
        F.size("sh").alias("n"),
        *[
            F.expr(
                f"array_min(transform(sh, s -> md5(concat('{j}|', s))))"
            ).alias(f"mh{j}")
            for j in range(4)
        ],
    )
    bands = _bands_of(base, carry=("n",)).persist(StorageLevel.MEMORY_AND_DISK)
    # candidate-scale, read 3x below (two cand_ids selects + the inter
    # join); persist instead of localCheckpoint so it is RELEASED at the
    # end — the final eager checkpoint of `out` makes re-execution moot
    cand = _band_candidates(bands, band_cap, logger, carry=("n",)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    if explode_shingles is not None:
        cand_sh = explode_shingles(cand_ids)
    else:
        cand_sh = doc_sh.join(F.broadcast(cand_ids), "doc_id", "left_semi").select(
            "doc_id", F.explode("sh").alias("s")
        )
    # candidate-scale; read twice by the intersection self-join below
    cand_sh = cand_sh.persist(StorageLevel.MEMORY_AND_DISK)
    inter = (
        cand.join(cand_sh.alias("x"), F.col("x.doc_id") == F.col("id_a"))
        .join(
            cand_sh.alias("y"),
            (F.col("y.doc_id") == F.col("id_b")) & (F.col("y.s") == F.col("x.s")),
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))
    out = (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    out = out.localCheckpoint(eager=True)
    bands.unpersist()
    cand.unpersist()
    cand_sh.unpersist()
    return out
