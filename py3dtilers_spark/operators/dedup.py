"""Near-duplicate detection suite for the documents table.

Training-data-pipeline operators (engine additions; the reference's only
dedup is exact dict-based vertex dedup, obj_writer.py:31-56):

- exact dedup:       md5(text) hash group-by (queries.q_dedup_exact)
- n-gram Jaccard:    shingle inverted-index join (queries.q_ngram_jaccard)
- MinHash + LSH:     this module — k permutation-min signatures over word
                     3-gram shingles, banded into b bands; docs sharing a
                     band bucket are candidate pairs. ALL hashing is integer
                     arithmetic over md5-derived shingle ids, so DuckDB
                     computes the identical signature (full SQL oracle).
- SimHash:           bit-majority signature over token hashes; hamming-close
                     pairs via band-exact buckets.

Scale shape: shingling explodes rows but the heavy join is keyed by band
bucket (b small keys per doc); signature build is one groupBy(doc_id) with
k min-aggregates (map-side partial combine). No cross join anywhere.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_P = 2147483647  # 2^31 - 1

# fixed permutation constants (seed-stable; embedded in both engines' SQL)
_MINHASH_AB = [
    (1103515245 + 12345 * i, 12345 + 1103 * i * i) for i in range(1, 17)
]
N_BANDS = 4
ROWS_PER_BAND = 4
# LSH bucket-size cap: buckets larger than this are near-identical spam
# clusters whose quadratic pair expansion dominates at 100 TB — dropped in
# BOTH engines (same pattern as the Jaccard shingle df-cap,
# queries._JACCARD_DF_CAP). 10^4 is a no-op at sandbox scale.
MAX_BUCKET = 10000

# shingle id: low 60 bits of md5, reduced mod P (identical in DuckDB via
# CAST('0x'||substr(md5(sh),1,15) AS BIGINT) — verified in parity_probe)
_SPARK_SHID = "CAST(conv(substr(md5(sh), 1, 15), 16, 10) AS BIGINT) % 2147483647"
_DUCK_SHID = "CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % 2147483647"

_SPARK_SHINGLES = (
    "array_distinct(CASE WHEN size(ws) < 3 THEN array(concat_ws(' ', ws)) "
    "ELSE transform(sequence(1, size(ws) - 2), "
    "i -> concat(ws[i-1], ' ', ws[i], ' ', ws[i+1])) END)"
)
_DUCK_SHINGLES = (
    "list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')] "
    "ELSE list_transform(range(1, len(ws) - 1), "
    "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END)"
)


def _band_key_sql(band: int) -> str:
    lo = band * ROWS_PER_BAND
    cols = ", ".join(f"CAST(mh{j} AS STRING)" for j in range(lo, lo + ROWS_PER_BAND))
    return f"md5(concat_ws(',', {cols}))"


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15): one explode + one groupBy with k min-aggs."""
    shingled = (
        docs.selectExpr("doc_id", "split(trim(text), ' +') AS ws")
        .selectExpr("doc_id", f"explode({_SPARK_SHINGLES}) AS sh")
        .selectExpr("doc_id", f"{_SPARK_SHID} AS shid")
    )
    return shingled.groupBy("doc_id").agg(
        *[
            F.expr(f"min((shid * {a} + {b}) % {_P})").alias(f"mh{i}")
            for i, (a, b) in enumerate(_MINHASH_AB)
        ]
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: (doc_a, doc_b, n_shared_bands).

    Single-pass plan: all band keys are emitted from ONE select
    (posexplode), buckets are formed by one groupBy, and pairs are expanded
    inside each bucket — the signature subtree executes exactly once,
    versus the naive per-band-union self-join that re-runs the
    explode + 16-min-agg tree 2x per band (8x here). Bucket pair expansion
    is quadratic per bucket by definition of LSH; buckets larger than
    MAX_BUCKET (near-identical spam clusters) are dropped to bound the
    blowup at 100 TB — mirrored in the oracle."""
    sigs = minhash_signatures(docs)
    band_arr = "array(" + ", ".join(_band_key_sql(b) for b in range(N_BANDS)) + ")"
    bands = sigs.selectExpr("doc_id", f"posexplode({band_arr}) AS (band, bkey)")
    buckets = (
        bands.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= F.lit(MAX_BUCKET)))
    )
    pairs = bucket_pairs(buckets, "doc_a", "doc_b")
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


def bucket_pairs(buckets: DataFrame, a_col: str, b_col: str,
                 ids_col: str = "ids") -> DataFrame:
    """All ordered in-bucket pairs (id[i], id[j]), i < j, expanded in TWO
    chained generators: posexplode anchors each id, then explode slices the
    tail. No intermediate row ever holds more than ONE bucket's id array
    (<= the caller's bucket cap) — versus the single inline(flatten(...))
    all-pairs array, whose C(n,2) structs in one row OOM an executor right
    at the advertised cap (the round-4 scale hazard this replaces). Both
    generators pipeline inside one whole-stage-codegen task: pairs stream
    out row-by-row, nothing quadratic is ever materialized per-row."""
    return (
        buckets.selectExpr(
            f"{ids_col} AS _ids", f"posexplode({ids_col}) AS (_i, {a_col})"
        )
        .where(F.expr("_i < size(_ids) - 1"))
        .selectExpr(
            a_col,
            f"explode(slice(_ids, _i + 2, size(_ids) - _i - 1)) AS {b_col}",
        )
    )


def minhash_oracle_sql() -> str:
    """DuckDB SQL computing the identical signatures and pairs."""
    mh_aggs = ",\n    ".join(
        f"min((shid * {a} + {b}) % {_P}) AS mh{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {band} AS band, {_band_key_sql(band)} AS bkey FROM sigs"
        for band in range(N_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS ws FROM documents
), shingled AS (
  SELECT doc_id, {_DUCK_SHID} AS shid
  FROM (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS sh FROM toks)
), sigs AS (
  SELECT doc_id, {mh_aggs} FROM shingled GROUP BY doc_id
), bands AS (
{band_rows}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM bands a JOIN bands b
  ON a.bkey = b.bkey AND a.band = b.band AND a.doc_id < b.doc_id
WHERE (a.band, a.bkey) IN (
  SELECT (band, bkey) FROM bands GROUP BY band, bkey
  HAVING count(*) <= {MAX_BUCKET})
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# SimHash: 16-bit signature (small enough for a generated-SQL oracle),
# majority vote over token shingle-hash bits.

SIMHASH_BITS = 16


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash int): sum(+1/-1 per bit) >= 0 -> bit set."""
    shingled = (
        docs.selectExpr("doc_id", "split(trim(text), ' +') AS ws")
        .selectExpr("doc_id", f"explode({_SPARK_SHINGLES}) AS sh")
        .selectExpr("doc_id", f"{_SPARK_SHID} AS shid")
    )
    bit_aggs = [
        F.expr(f"sum(CASE WHEN (shid >> {b}) % 2 = 1 THEN 1 ELSE -1 END)").alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = shingled.groupBy("doc_id").agg(*bit_aggs)
    expr = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return sums.selectExpr("doc_id", f"CAST({expr} AS BIGINT) AS simhash")


def simhash_oracle_sql() -> str:
    bit_aggs = ",\n    ".join(
        f"sum(CASE WHEN (shid >> {b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    expr = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS ws FROM documents
), shingled AS (
  SELECT doc_id, {_DUCK_SHID} AS shid
  FROM (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS sh FROM toks)
), sums AS (
  SELECT doc_id, {bit_aggs} FROM shingled GROUP BY doc_id
)
SELECT doc_id, CAST({expr} AS BIGINT) AS simhash FROM sums
"""
