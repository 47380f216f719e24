"""Deduplication operators (SURVEY.md §2.10 L1/L2) for training-data
pipelines: exact, n-gram Jaccard, MinHash(+LSH), SimHash.

Scale design (100 TB corpus):

- **Exact** (L1): hash-groupBy on sha256(text) — shuffle carries only
  (hash, doc_id), never the text. At 100 TB this is the cheapest op in
  the pipeline (one shuffle of ~40 bytes/row).
- **Jaccard near-dup**: candidate generation MUST avoid the |D|^2 cross
  join. ``near_dup_jaccard`` blocks on cheap invariants (lang + length
  bucket); ``minhash_lsh_pairs`` replaces blocking with banded MinHash
  so candidates are pairs agreeing on >=1 band — the standard
  sub-quadratic LSH dataflow: explode bands → shuffle by (band, value)
  → pairs within buckets only.
- **Determinism**: every hash is derived from md5(token) arithmetic
  (not engine-native hash functions), so signatures are reproducible
  across engines — the DuckDB oracle computes the *same* signatures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from event_stream_aggr_spark.plans.registry import register
from event_stream_aggr_spark.tables import load_table

#: MinHash parameters: k permutations (a*h + b) mod P over 28-bit token
#: hashes. P = 2^31 - 1 (prime); a,b fixed → reproducible anywhere.
MINHASH_K = 8
MINHASH_P = 2_147_483_647
MINHASH_A = [1_000_003 * (i + 1) + 7 for i in range(MINHASH_K)]
MINHASH_B = [97 + 31 * i for i in range(MINHASH_K)]

SIMHASH_BITS = 32


def distinct_tokens(text: Column) -> Column:
    """Distinct non-empty whitespace tokens (the shingle set)."""
    return F.array_distinct(F.filter(F.split(text, " "), lambda x: x != ""))


def token_hash28(token: Column) -> Column:
    """Deterministic 28-bit token hash: first 7 hex digits of md5,
    base-16 → long. Engine-portable (DuckDB: ('0x'||substr(md5(t),1,7))::BIGINT)."""
    return F.conv(F.substring(F.md5(token), 1, 7), 16, 10).cast("long")


def minhash_signature_cols() -> list[Column]:
    """The k min-hash aggregate expressions over a column named ``h``."""
    return [
        F.min((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i])) % MINHASH_P).alias(
            f"sig_{i}"
        )
        for i in range(MINHASH_K)
    ]


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc → k-column MinHash signature (explode tokens, hash, k mins).

    One narrow explode + one shuffle keyed by doc id; signature width is
    k longs regardless of document size.
    """
    toks = docs.select(id_col, F.explode(distinct_tokens(F.col(text_col))).alias("token"))
    return toks.select(id_col, token_hash28(F.col("token")).alias("h")).groupBy(id_col).agg(
        *minhash_signature_cols()
    )


def band_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
) -> DataFrame:
    """``(id_col, bucket)`` — one row per (doc, band), where ``bucket``
    is the struct(band, v0..v{rows-1}) of that band's signature slice.
    Two docs agreeing on any band produce an EQUAL bucket value, so
    every LSH consumer (pair generation, the streaming band store) is
    an equi-join/groupBy on this one column — never a cross join."""
    rows = MINHASH_K // bands
    sigs = minhash_signatures(docs, id_col, text_col)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            *[F.col(f"sig_{b * rows + r}").alias(f"v{r}") for r in range(rows)],
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    return sigs.select(id_col, F.explode(F.array(*band_cols)).alias("bucket"))


def tokenless_ids(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Ids of docs whose shingle set is EMPTY (empty, whitespace-only,
    or NULL text). Such docs produce no MinHash rows — the explode in
    ``minhash_signatures`` yields nothing — so every band-bucket
    consumer must handle them explicitly or silently lose them
    (round-11 ADVICE on the streaming gate). A scan-side size filter,
    no join, no shuffle; ``coalesce(size, 0)`` covers NULL text
    (``size(NULL)`` is NULL under Spark's non-legacy default)."""
    return docs.filter(
        F.coalesce(F.size(distinct_tokens(F.col(text_col))), F.lit(0)) <= 0
    ).select(id_col)


def lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
) -> DataFrame:
    """Banded-MinHash candidate pairs ``(doc_a, doc_b)``: explode each
    signature into band structs, bucket-join on band equality, dedup.
    The shared sub-quadratic candidate generator behind
    ``minhash_lsh_pairs`` (Jaccard) and ``containment_pairs``
    (asymmetric containment)."""
    banded = band_buckets(docs, id_col, text_col, bands)
    return (
        banded.alias("a")
        .join(banded.alias("b"), on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Sub-quadratic near-dup pairs: banded MinHash LSH then exact
    Jaccard verification on candidates only.

    Bands of rows=k/bands signature values; pairs agreeing on any band
    meet in a shuffle bucket — never a cross join. Candidates are then
    verified with exact distinct-token Jaccard (array_intersect math,
    no Python).
    """
    cand = lsh_candidates(docs, id_col, text_col, bands)
    toks = docs.select(
        F.col(id_col), distinct_tokens(F.col(text_col)).alias("toks")
    )
    a = toks.select(F.col(id_col).alias("doc_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col(id_col).alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document from md5-derived token hashes.

    Per bit i: sum over tokens of +-1 by bit value; signature bit = 1 if
    the sum is positive. All builtin integer arithmetic (shiftright /
    conditional sums) → portable + codegen'd.
    """
    toks = docs.select(id_col, F.explode(distinct_tokens(F.col(text_col))).alias("token"))
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long").alias("h")
    hashed = toks.select(id_col, h)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = hashed.groupBy(id_col).agg(*bit_sums)
    sig = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return per_doc.select(id_col, sig.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# Registered oracle-checked queries
# ---------------------------------------------------------------------------


@register(
    "qd01_exact_dedup",
    bench=True,
    tags=("dedup",),
    oracle="""
SELECT sha256(text) AS text_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY sha256(text)
""",
)
def qd01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (L1): sha256 content hash → representative + copy count."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.sha2("text", 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def prefix_filtered_pairs(
    d: DataFrame,
    set_col: str,
    t_num: int,
    t_den: int,
    block_cols: list[str],
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin principle — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): identical output to the within-block all-pairs join, but
    candidates come from an EQUI-join on prefix tokens instead of
    enumerating every same-block pair.

    ``d`` carries (doc_id, *block_cols, set_col: array<string>); the
    threshold is the exact rational t = t_num/t_den. Steps:

    1. global token order by (document frequency ASC, token) — rare
       tokens first, the order that makes prefixes selective;
    2. per doc: sort its set by that order and keep the PREFIX of
       length n - ceil(t·n) + 1 (integer arithmetic, exact). The
       prefix-filtering lemma: two sets with Jaccard >= t must share
       at least ceil(t·max(n_a, n_b)) elements, and any two sets
       sharing that much overlap share an element inside these
       prefixes — so the candidate set is COMPLETE;
    3. candidates: self equi-join on (prefix token, *block_cols),
       doc_a < doc_b, distinct;
    4. exact integer-arithmetic Jaccard verification on candidates
       only, filter >= t.

    Scale: every stage is linear or an equi-join. Candidate bucket
    sizes are bounded by the df of PREFIX tokens (rare by
    construction), not by block population — the structural fix for
    the 100 TB block-blowup the all-pairs formulation had. A residual
    hot prefix token is an ordinary skewed equi-join key (AQE
    skew-split / salting territory), not a quadratic operator.
    tests/test_dedup.py pins output equality against the quadratic
    form at sf0.001; the unchanged all-pairs ORACLE pins it cross-
    engine at every driver check."""
    ids = ["doc_id", *block_cols]
    toks = d.select(*ids, F.explode(set_col).alias("tok"))
    tok_df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(tok_df, "tok").groupBy(*ids).agg(
        F.sort_array(F.collect_list(F.struct("df", "tok"))).alias("arr")
    )
    # prefix length n - ceil(n·t) + 1 in PURE INTEGER arithmetic:
    # ceil(n·t_num/t_den) = (n·t_num + t_den − 1) div t_den — the
    # lossless-candidate bound is provably integral instead of resting
    # on IEEE correctly-rounded double division (round-8 ADVICE)
    prefixes = ranked.select(
        *ids,
        F.explode(
            F.expr(
                "slice(transform(arr, s -> s.tok), 1, "
                f"size(arr) - cast((size(arr) * {t_num} + {t_den} - 1) "
                f"div {t_den} as int) + 1)"
            )
        ).alias("tok"),
    )
    a = prefixes.select(
        F.col("doc_id").alias("doc_a"), *block_cols, "tok"
    )
    b = prefixes.select(
        F.col("doc_id").alias("doc_b"), *block_cols, "tok"
    )
    cand = (
        a.join(b, ["tok", *block_cols])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets_a = d.select(
        F.col("doc_id").alias("doc_a"), F.col(set_col).alias("set_a")
    )
    sets_b = d.select(
        F.col("doc_id").alias("doc_b"), F.col(set_col).alias("set_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= t_num / t_den)
    )


@register(
    "qd02_near_dup_jaccard",
    tags=("dedup",),
    oracle="""
WITH d AS (
  SELECT doc_id, lang, CAST(FLOOR(n_chars / 16) AS BIGINT) AS bucket,
         list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
  FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
         AS jaccard
FROM d a JOIN d b
  ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.6
""",
)
def qd02_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup, EXACT (L2 ground truth for the
    sketch paths qd04/qd05) — same (lang, n_chars/16)-blocked
    semantics as always, but since round 8 the Spark side generates
    candidates by PREFIX FILTERING (see ``prefix_filtered_pairs``)
    instead of within-block all-pairs: identical output (the lossless
    AllPairs principle at the exact rational threshold 3/5), candidate
    buckets keyed by rare prefix tokens instead of block population —
    the former perf_weak quadratic block is gone while the oracle
    stays the brute-force all-pairs spec, so every driver check
    re-proves the equivalence cross-engine. (r9: the helper's prefix
    length is now pure integer ceil — see prefix_filtered_pairs.)"""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 16).cast("long").alias("bucket"),
        distinct_tokens(F.col("text")).alias("toks"),
    )
    return prefix_filtered_pairs(d, "toks", 3, 5, ["lang", "bucket"])


def _minhash_oracle() -> str:
    sig_exprs = ",\n       ".join(
        f"CAST(MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS BIGINT)"
        f" AS sig_{i}"
        for i in range(MINHASH_K)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 7))::BIGINT AS h
  FROM (SELECT doc_id,
               unnest(list_distinct(list_filter(string_split(text, ' '),
                                                x -> x <> ''))) AS tok
        FROM documents))
SELECT doc_id, {sig_exprs}
FROM toks GROUP BY doc_id
"""


@register("qd03_minhash_signatures", tags=("dedup",), oracle=_minhash_oracle())
def qd03_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (L2): deterministic md5-derived permutation
    hashes — the oracle recomputes identical signatures in SQL."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_signatures(d)


def _lsh_pairs_ctes(bands: int = 2, threshold: float = 0.8, max_chars: int = 160) -> str:
    """CTE chain replaying ``minhash_lsh_pairs`` in SQL, ending in
    ``lsh_pairs(doc_a, doc_b, jaccard)``: same md5-derived signatures
    (as ``_minhash_oracle``), banded candidate condition as an OR of
    per-band equalities, exact-Jaccard verification on candidates.
    Shared by the qd04 oracle and every oracle whose lineage consumes
    the package-default ``operators.near_dup_pairs`` (qd08, qs02)."""
    rows = MINHASH_K // bands
    sig_exprs = ",\n         ".join(
        f"CAST(MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS BIGINT)"
        f" AS sig_{i}"
        for i in range(MINHASH_K)
    )
    band_conds = " OR ".join(
        "("
        + " AND ".join(
            f"a.sig_{b * rows + r} = b.sig_{b * rows + r}" for r in range(rows)
        )
        + ")"
        for b in range(bands)
    )
    return f"""short_docs AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
  FROM documents WHERE n_chars <= {max_chars}),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS h
  FROM (SELECT doc_id, unnest(toks) AS tok FROM short_docs)),
sigs AS (
  SELECT doc_id, {sig_exprs}
  FROM h GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b
    ON a.doc_id < b.doc_id AND ({band_conds})),
lsh_pairs AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
           AS jaccard
  FROM cand c
  JOIN short_docs ta ON c.doc_a = ta.doc_id
  JOIN short_docs tb ON c.doc_b = tb.doc_id
  WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
        >= {threshold})"""


def _lsh_oracle(bands: int = 2, threshold: float = 0.8, max_chars: int = 160) -> str:
    return f"""
WITH {_lsh_pairs_ctes(bands, threshold, max_chars)}
SELECT doc_a, doc_b, jaccard FROM lsh_pairs
"""


@register("qd04_minhash_lsh_pairs", bench=True, tags=("dedup",), oracle=_lsh_oracle())
def qd04_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate pairs + exact-Jaccard verification.

    The signatures are deterministic md5 arithmetic, so the oracle
    reproduces the full banding dataflow in SQL (same signatures, same
    band agreement condition, same exact-Jaccard verification) —
    hash-checked, not rows-only. tests/test_dedup.py additionally
    verifies recall against the brute-force qd02 pairs at sf0.001.

    Restricted to short documents: the synthetic corpus draws from a
    ~30-word vocabulary, so long docs all share (nearly) the full
    vocabulary as their token set and every signature collides — the
    degenerate worst case for MinHash. Short docs keep the bucket
    distribution meaningful (and the candidate set sub-quadratic).
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") <= 160)
    return minhash_lsh_pairs(d, bands=2, threshold=0.8)


def _simhash_sig_ctes(table: str, id_col: str, text_col: str) -> str:
    """CTE chain recomputing ``simhash_signatures`` in SQL for any
    (table, id, text) triple; ends with ``sigs(id, simhash)``."""
    bit_sums = ",\n       ".join(
        f"SUM(CASE WHEN (h // {2**i}) % 2 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""toks AS (
  SELECT {id_col} AS id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
  FROM (SELECT {id_col},
               unnest(list_distinct(list_filter(string_split({text_col}, ' '),
                                                x -> x <> ''))) AS tok
        FROM {table})),
sums AS (SELECT id, {bit_sums} FROM toks GROUP BY id),
sigs AS (SELECT id, CAST({sig} AS BIGINT) AS simhash FROM sums)"""


def _simhash_oracle() -> str:
    return f"""
WITH {_simhash_sig_ctes("documents", "doc_id", "text")}
SELECT id AS doc_id, simhash FROM sigs
"""


@register("qd05_simhash", tags=("dedup",), oracle=_simhash_oracle())
def qd05_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (L2): 32-bit sign-of-weighted-bits signature,
    portable integer arithmetic, oracle recomputes identically."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_signatures(d)


def _embedding_near_dup_oracle(
    dim: int = 64, threshold: float = 0.35, planes: int = 4, tables: int = 4
) -> str:
    """SQL mirror of ``embedding_near_dup_lsh``: shared LSH bucket CTEs
    (similarity.lsh_bucket_ctes), self-join on (table, bucket), exact
    cosine only on candidate pairs."""
    from event_stream_aggr_spark.operators.similarity import lsh_bucket_ctes

    return f"""
WITH {lsh_bucket_ctes(dim, planes, tables)},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buck a JOIN buck b
    ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
pairs AS (
  SELECT cand.vec_a, cand.vec_b,
         (SELECT SUM(x * y) FROM (SELECT unnest(ea.embedding)::DOUBLE AS x,
                                         unnest(eb.embedding)::DOUBLE AS y)) AS dp,
         (SELECT SUM(x * x) FROM (SELECT unnest(ea.embedding)::DOUBLE AS x)) AS na,
         (SELECT SUM(y * y) FROM (SELECT unnest(eb.embedding)::DOUBLE AS y)) AS nb
  FROM cand
  JOIN embeddings ea ON cand.vec_a = ea.vec_id
  JOIN embeddings eb ON cand.vec_b = eb.vec_id)
SELECT vec_a, vec_b, ROUND(dp / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
FROM pairs
WHERE ROUND(dp / (SQRT(na) * SQRT(nb)), 6) >= {threshold}
"""


@register(
    "qd06_embedding_near_dup",
    tags=("dedup", "similarity"),
    oracle=_embedding_near_dup_oracle(),
)
def qd06_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (L2's semantic variant), routed
    through LSH candidates — the 100 TB dataflow: bucket every vector
    (narrow map), self-equi-join on (table, bucket), exact cosine only
    on candidates. No cross join anywhere in the plan; the oracle
    replays the identical bucketing in SQL, so the check is exact.
    tests/test_similarity.py measures candidate recall vs the exact
    all-pairs baseline."""
    from event_stream_aggr_spark.operators.similarity import embedding_near_dup_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_lsh(emb, dim=64, threshold=0.35)


@register(
    "qd07_char_shingle_jaccard",
    tags=("dedup", "text"),
    oracle="""
WITH d AS (
  SELECT doc_id, lang, CAST(FLOOR(n_chars / 16) AS BIGINT) AS bucket,
         list_distinct(list_transform(generate_series(1, length(text) - 4),
                                      i -> substr(text, i, 5))) AS sh
  FROM documents WHERE n_chars <= 200)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM d a JOIN d b ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.18
""",
)
def qd07_char_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram shingle Jaccard (the classic n-gram dedup unit,
    robust to token-boundary edits). Shingling is a pure array
    expression (sequence + transform + substring) — no UDF.

    Like qd02, the Spark side is prefix-filtered since round 8
    (threshold 9/50): EXACT output, equi-join candidates. At this low
    threshold the prefixes are long (~0.82·n), so the pruning is
    weaker than qd02's — but candidates are still bucketed by
    (shingle, lang, n_chars/16) rather than block population, and the
    all-pairs ORACLE re-proves output equality at every driver
    check. (r9: the helper's prefix length is now pure integer ceil —
    see prefix_filtered_pairs.)"""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") <= 200)
        .select(
            "doc_id",
            "lang",
            F.floor(F.col("n_chars") / 16).cast("long").alias("bucket"),
            F.array_distinct(
                F.expr("transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))")
            ).alias("sh"),
        )
    )
    return prefix_filtered_pairs(d, "sh", 9, 50, ["lang", "bucket"])


def _cc_ctes() -> str:
    """CTE chain: ``lsh_pairs`` → ``comp(node, component)`` via a
    recursive-CTE transitive closure (min reachable id)."""
    return """edges AS (SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
          UNION SELECT doc_b, doc_a FROM lsh_pairs),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
  SELECT a, b FROM r),
comp AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS component
  FROM reach GROUP BY a)"""


@register(
    "qd08_dedup_clusters",
    tags=("dedup", "cluster"),
    oracle=f"""
WITH {_lsh_pairs_ctes()},
{_cc_ctes()}
SELECT node, component FROM comp
""",
)
def qd08_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15: connected_components fused-convergence rewrite — body
    # touch for hash demotion
    """Near-dup pairs → connected components (dedup clusters).

    The pair generator is the package-default banded MinHash LSH
    (``operators.near_dup_pairs`` — sub-quadratic; never the
    single-attribute-blocked baseline qd02, whose within-block join
    grows quadratically with corpus size). Spark side: iterative
    min-label propagation (operators/cluster.py, one shuffle per
    iteration, O(graph diameter) iterations). Oracle: the identical
    banding replayed in SQL, then components via a recursive-CTE
    transitive closure — two totally different dataflows, identical
    fixpoint.
    """
    from event_stream_aggr_spark.operators.cluster import connected_components

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") <= 160)
    pairs = minhash_lsh_pairs(d, bands=2, threshold=0.8).select("doc_a", "doc_b")
    # lsh_candidates ends in a pair distinct over doc_a < doc_b, so
    # CC's own edge dedup Exchange is redundant — skip it
    return connected_components(pairs, pairs_unique=True)


#: qd09 blocking: max edit distance searched; also bounds the length
#: pre-filter (|len(a)-len(b)| <= MAX ⇐ levenshtein(a,b) <= MAX).
EDIT_DUP_MAX_DIST = 3


def _edit_distance_oracle(max_dist: int = EDIT_DUP_MAX_DIST) -> str:
    return f"""
WITH w AS (
  SELECT p_partkey, p_brand, unnest(string_split(p_name, ' ')) AS word
  FROM part),
cand AS (
  SELECT DISTINCT a.p_partkey AS key_a, b.p_partkey AS key_b
  FROM w a JOIN w b
    ON a.p_brand = b.p_brand AND a.word = b.word AND a.p_partkey < b.p_partkey)
SELECT c.key_a, c.key_b,
       CAST(levenshtein(pa.p_name, pb.p_name) AS BIGINT) AS edit_dist
FROM cand c
JOIN part pa ON c.key_a = pa.p_partkey
JOIN part pb ON c.key_b = pb.p_partkey
WHERE abs(len(pa.p_name) - len(pb.p_name)) <= {max_dist}
  AND levenshtein(pa.p_name, pb.p_name) <= {max_dist}
"""


@register("qd09_edit_distance_near_dup", tags=("dedup", "text"), oracle=_edit_distance_oracle())
def qd09_edit_distance_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup (the character-level complement of
    Jaccard/MinHash): Levenshtein <= 3 on (brand, word)-blocked
    candidates.

    Levenshtein is O(len^2) per pair, so candidate generation does the
    scale work. Blocks are (brand, name token): a pair is a candidate
    iff it shares the brand AND at least one exact word — guaranteed
    whenever the <= 3 edits leave any one token untouched, which is
    every pair in vocab-constrained corpora like this one (measured
    recall 1.0 vs the exact within-brand baseline for edit distance
    1-3 at sf0.001 AND sf0.01 — tests/test_dedup.py::
    test_qd09_word_blocking_recall_vs_exact_baseline). An 8-bit
    SimHash banding was tried first and measured at 0.45 recall: these
    two-word names flip too many token-hash bits per single-word swap
    for sketch banding to hold. A cheap |len(a)-len(b)| <= 3 guard
    (implied by the distance bound) skips the quadratic Levenshtein on
    hopeless candidates. The oracle replays the identical blocking in
    SQL, so the check is exact-match, not approximate."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    w = p.select(
        "p_partkey",
        F.col("p_brand").alias("brand"),
        F.explode(F.split("p_name", " ")).alias("word"),
    )
    cand = (
        w.select(F.col("p_partkey").alias("key_a"), "brand", "word")
        .join(w.select(F.col("p_partkey").alias("key_b"), "brand", "word"), ["brand", "word"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )
    na = p.select(F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"))
    nb = p.select(F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"))
    return (
        cand.join(na, "key_a")
        .join(nb, "key_b")
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= EDIT_DUP_MAX_DIST
        )
        .select(
            "key_a", "key_b", F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist")
        )
        .filter(F.col("edit_dist") <= EDIT_DUP_MAX_DIST)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

#: 13-gram overlap is the GPT-3/PaLM decontamination convention.
DECONTAM_NGRAM = 13
#: Deterministic held-out "benchmark" slice: every 50th document.
DECONTAM_EVAL_MOD = 50


def ngram_hashes(text: Column, n: int = DECONTAM_NGRAM) -> Column:
    """md5 hashes of the positional word n-grams of ``text``.

    Pure array expression (split -> sequence -> slice -> md5): narrow,
    codegen'd, no shuffle. Guarded for short docs because Spark's
    ``sequence(1, 0)`` DESCENDS instead of returning empty (unlike
    DuckDB's generate_series).
    """
    # Bind the token array ONCE as an outer lambda variable: embedding
    # the split expression directly in the slice lambda would re-split
    # the document for every gram index (O(n²) characters per doc).
    # transform over a 1-element array evaluates its input exactly
    # once and hands the inner lambdas a bound value.
    def grams_of(t: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(t, i, n))),
        )
        return F.when(F.size(t) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    toked = F.array(F.filter(F.split(text, " "), lambda x: x != ""))
    return F.get(F.transform(toked, grams_of), 0)


def _decontam_oracle(n: int = DECONTAM_NGRAM, mod: int = DECONTAM_EVAL_MOD) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - {n - 1}),
                               i -> md5(array_to_string(t[i:i + {n - 1}], ' ')))) AS g
  FROM toks),
eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % {mod} = 0),
train AS (SELECT * FROM grams WHERE doc_id % {mod} <> 0)
SELECT train.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS contaminated_ngrams,
       CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS contamination_rate
FROM train LEFT JOIN eval_grams e ON train.g = e.g
GROUP BY train.doc_id
HAVING SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) > 0
ORDER BY doc_id
"""


@register("qd10_ngram_decontamination", bench=True, tags=("dedup", "text"), oracle=_decontam_oracle())
def qd10_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (L2): flag training documents sharing
    any 13-gram with a held-out eval slice — the standard pre-training
    hygiene pass (GPT-3 appendix C uses exactly this shape).

    Scale dataflow: the eval slice is a fixed small fraction of the
    corpus, so its distinct n-gram hash set broadcasts; the training
    side streams through a map-side hash probe — NO shuffle of the
    13-gram stream (which is ~13x corpus size and must never hit the
    wire). Only the tiny per-doc partial counts shuffle. At 100 TB the
    eval set of a real pipeline is a few GB of hashes — still broadcast
    range, or a bucketed join if not. Counts and one division: exact.
    """
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(ngram_hashes(F.col("text"))).alias("g")
    )
    is_eval = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    eval_grams = grams.filter(is_eval).select("g").distinct()
    train = grams.filter(~is_eval)
    hit = F.when(F.col("eg").isNotNull(), 1).otherwise(0)
    return (
        train.join(
            F.broadcast(eval_grams.withColumn("eg", F.lit(1))), "g", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(hit).cast("long").alias("contaminated_ngrams"),
            (F.sum(hit).cast("double") / F.count(F.lit(1))).alias(
                "contamination_rate"
            ),
        )
        .filter(F.col("contaminated_ngrams") > 0)
        .orderBy("doc_id")
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 2,
    threshold: float = 0.9,
) -> DataFrame:
    """Asymmetric containment near-dup (the Dolma/Gopher sub-document
    rule): C(A->B) = |A∩B| / |A| flags A as (nearly) contained in B
    even when Jaccard is low because B is much larger — the case
    symmetric Jaccard dedup misses (boilerplate wrapping, quoted
    reposts, prefix crawls). Candidates come from the shared banded
    LSH generator; both directions are computed on each candidate and
    a pair survives if either reaches ``threshold``."""
    cand = lsh_candidates(docs, id_col, text_col, bands)
    toks = docs.select(F.col(id_col), distinct_tokens(F.col(text_col)).alias("toks"))
    a = toks.select(F.col(id_col).alias("doc_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col(id_col).alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    c_ab = F.round(inter / F.size("toks_a"), 6)
    c_ba = F.round(inter / F.size("toks_b"), 6)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", c_ab.alias("cont_a_in_b"), c_ba.alias("cont_b_in_a"))
        .filter(
            (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
        )
    )


@register(
    "qd11_containment_near_dup",
    tags=("dedup",),
    oracle=f"""
WITH {_lsh_pairs_ctes()}
SELECT c.doc_a, c.doc_b,
       ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
             / len(ta.toks), 6) AS cont_a_in_b,
       ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
             / len(tb.toks), 6) AS cont_b_in_a
FROM cand c
JOIN short_docs ta ON c.doc_a = ta.doc_id
JOIN short_docs tb ON c.doc_b = tb.doc_id
WHERE ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
            / len(ta.toks), 6) >= 0.9
   OR ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
            / len(tb.toks), 6) >= 0.9
""",
)
def qd11_containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup over the short-doc corpus slice (same slice
    as qd04 — see its degenerate-vocabulary note). The oracle replays
    the identical banding via the shared _lsh_pairs_ctes chain, so the
    check is exact-match. Scale: same dataflow as qd04 (bucketed
    candidates, never all-pairs); the containment math is the same
    array_intersect arithmetic with a different normalizer."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") <= 160)
    return containment_pairs(d, bands=2, threshold=0.9)


SPAN_TOKENS = 10


@register(
    "qd12_span_dedup",
    bench=True,
    tags=("dedup", "text"),
    oracle=f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents),
spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(list_slice(ts, i*{SPAN_TOKENS}+1, i*{SPAN_TOKENS}+{SPAN_TOKENS}), ' ') AS span
  FROM base,
       LATERAL (SELECT unnest(range(CAST(ceil(len(ts)/{SPAN_TOKENS}.0) AS BIGINT))) AS i) g),
ranked AS (
  SELECT doc_id, span_idx, span,
         row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn
  FROM spans)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '')
         AS clean_text
FROM ranked GROUP BY doc_id
""",
)
def qd12_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (L2, the C4/CCNet "remove duplicated
    substrings" rule): each document is segmented into fixed
    10-token spans; a span whose text already occurred anywhere
    earlier in the corpus (canonical occurrence = lowest (doc_id,
    span_idx)) is dropped, and the document is reassembled from the
    surviving spans. Output per doc: span counts and the cleaned text.

    Scale shape (100 TB): span construction is a zero-shuffle
    array-slice transform on the token array (no explode of raw
    tokens); the only wide exchange hash-partitions spans by their
    md5 — ~30 bytes/span of payload, and the canonical-first
    window within each hash partition touches only colliding spans
    (duplicate groups are tiny; a pathological viral span would be
    the one skew key and is bounded by group size, not corpus size).
    Reassembly shuffles surviving (doc_id, span) pairs once back to
    the document grain. All hashes are md5 (engine-portable) so the
    DuckDB oracle replays the identical canonicalization."""
    # round 16: opt IN to the adaptive scan parallelization — this is a
    # compute-bound zero/low-shuffle scan pass (paired A/B win; see
    # tables.PARALLELIZE_DEFAULT_ON for why documents is opt-in)
    d = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text"
    )
    # tokenize ONCE behind a projection boundary — a slice lambda that
    # embeds the split expression would re-split the document for
    # every span index (O(n²) characters per doc)
    toked = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("ts"),
    )
    n_spans = F.ceil(F.size("ts") / F.lit(SPAN_TOKENS)).cast("int")
    spans_arr = F.when(F.size("ts") == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("ts"), i * SPAN_TOKENS + 1, SPAN_TOKENS)
            ),
        )
    )
    spans = toked.select(
        "doc_id", F.posexplode(spans_arr).alias("span_idx", "span")
    ).withColumn("h", F.md5("span"))
    # canonical-first via a map-side-combinable MIN aggregate rather
    # than a window: a viral span (one digest shared by a large slice
    # of the corpus) would funnel every occurrence into a single
    # window partition that AQE cannot split, while the aggregate
    # pre-combines per upstream partition and the tagging equi-join
    # below is exactly the shape AQE skew-join splitting handles.
    canonical = spans.groupBy("h").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("first_at")
    )
    is_first = (F.col("doc_id") == F.col("first_at.doc_id")) & (
        F.col("span_idx") == F.col("first_at.span_idx")
    )
    tagged = spans.join(canonical, "h").withColumn("keep", is_first)
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("span_idx", "span"),
                            )
                        )
                    ),
                    lambda s: s["span"],
                ),
            ).alias("clean_text"),
        )
    )


@register(
    "qd13_curation_pipeline",
    bench=True,
    tags=("dedup", "text", "pipeline"),
    oracle=f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents),
quality AS (
  SELECT doc_id, ts FROM base
  WHERE len(ts) BETWEEN 30 AND 100000
    AND length(array_to_string(ts, '')) BETWEEN 3 * len(ts) AND 10 * len(ts)
    AND len(list_filter(ts, x -> x IN ('the','a','of','and','to','in','is'))) * 50
        >= 3 * len(ts)),
spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(list_slice(ts, i*{SPAN_TOKENS}+1, i*{SPAN_TOKENS}+{SPAN_TOKENS}), ' ') AS span
  FROM quality,
       LATERAL (SELECT unnest(range(CAST(ceil(len(ts)/{SPAN_TOKENS}.0) AS BIGINT))) AS i) g),
ranked AS (
  SELECT doc_id, span_idx, span,
         row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn
  FROM spans),
cleaned AS (
  SELECT doc_id,
         COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '')
           AS clean_text
  FROM ranked GROUP BY doc_id),
survivors AS (
  SELECT doc_id, clean_text,
         row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) AS dup_rn
  FROM cleaned WHERE clean_text <> '')
SELECT doc_id,
       CAST(length(clean_text) AS BIGINT) AS clean_chars,
       CAST(len(list_filter(string_split(clean_text, ' '), x -> x <> '')) AS BIGINT)
         AS clean_tokens
FROM survivors WHERE dup_rn = 1
""",
)
def qd13_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline (the composition the individual
    L-operators exist for): quality gate (length window, mean-token
    window, stopword floor — the zero-shuffle subset of qt14's rule
    FAMILY; the length floor here is intentionally looser, 30 tokens
    vs qt14's 50, so the downstream dedup stages see a non-trivial
    survivor population at small SF)
    → span-level dedup with document reassembly (qd12) → corpus-level
    exact dedup of the cleaned text (qd01's rule, canonical = lowest
    doc_id). Output: the surviving documents with post-clean sizes.

    Composing in ONE lineage is the point at 100 TB: Catalyst fuses
    the quality gate into the parquet scan (documents failing cheap
    rules never reach the span shuffle), the span hash exchange is the
    pipeline's first wide op, and the final exact-dedup shuffle
    carries (md5, doc_id) pairs only. Three logical stages, two wide
    exchanges + the reassembly shuffle — not three separate jobs with
    materialized intermediates."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return curation_clean(d).select(
        "doc_id",
        F.length("clean_text").cast("long").alias("clean_chars"),
        F.size(F.filter(F.split("clean_text", " "), lambda x: x != ""))
        .cast("long")
        .alias("clean_tokens"),
    )


def curation_clean(d: DataFrame) -> DataFrame:
    """qd13's gate → span-dedup → reassembly → corpus-exact-dedup
    dataflow over any (doc_id, text) DataFrame; returns the surviving
    ``(doc_id, clean_text)``. Separated so the streaming curation path
    (bench.py's foreachBatch docs/s metric,
    tests/test_streaming_curation.py) drives the REGISTERED dataflow
    instead of re-implementing it. Composed from the three stage
    functions below so qa08's per-stage ledger counts the SAME
    relations this pipeline flows (value-identical split — each stage
    body is the former inline block, unchanged)."""
    return curation_exact_stage(curation_despan_stage(curation_quality_stage(d)))


def curation_quality_stage(d: DataFrame) -> DataFrame:
    """qd13 stage 1 — the quality gate: (doc_id, text, ts) survivors."""
    ts = F.filter(F.split("text", " "), lambda x: x != "")
    quality = (
        d.select("doc_id", "text", ts.alias("ts"))
        .filter(
            F.size("ts").between(30, 100000)
            & (F.length(F.concat_ws("", F.col("ts"))) >= 3 * F.size("ts"))
            & (F.length(F.concat_ws("", F.col("ts"))) <= 10 * F.size("ts"))
            & (
                F.size(
                    F.filter(F.col("ts"), lambda x: x.isin(list(
                        ("the", "a", "of", "and", "to", "in", "is")
                    )))
                )
                * 50
                >= 3 * F.size("ts")
            )
        )
    )
    return quality


def curation_despan_stage(quality: DataFrame) -> DataFrame:
    """qd13 stage 2 — span dedup + reassembly: (doc_id, clean_text),
    empty reassemblies dropped."""
    n_spans = F.ceil(F.size("ts") / F.lit(SPAN_TOKENS)).cast("int")
    # same empty-array guard as qd12: sequence(0, -1) yields a
    # DESCENDING [0, -1] in Spark, so without the guard a 0-token doc
    # (impossible today only because the quality gate floors at 30
    # tokens) would silently produce garbage spans if the gate relaxed
    spans_arr = F.when(F.size("ts") == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("ts"), i * SPAN_TOKENS + 1, SPAN_TOKENS)),
        )
    )
    spans = quality.select(
        "doc_id", F.posexplode(spans_arr).alias("span_idx", "span")
    ).withColumn("h", F.md5("span"))
    # canonical-first via min-aggregate + skew-splittable join, same
    # rationale as qd12 (a window over the span digest cannot be
    # skew-split by AQE; this shape can)
    canonical = spans.groupBy("h").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("first_at")
    )
    keep = (F.col("doc_id") == F.col("first_at.doc_id")) & (
        F.col("span_idx") == F.col("first_at.span_idx")
    )
    cleaned = (
        spans.join(canonical, "h")
        .withColumn("keep", keep)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("span_idx", "span"))
                        )
                    ),
                    lambda s: s["span"],
                ),
            ).alias("clean_text")
        )
        .filter(F.col("clean_text") != "")
    )
    return cleaned


def curation_exact_stage(cleaned: DataFrame) -> DataFrame:
    """qd13 stage 3 — corpus exact dedup on the reassembled text."""
    dup_canon = cleaned.groupBy(F.md5("clean_text").alias("ch")).agg(
        F.min("doc_id").alias("first_doc")
    )
    return (
        cleaned.join(dup_canon, F.md5(cleaned["clean_text"]) == dup_canon["ch"])
        .filter(F.col("doc_id") == F.col("first_doc"))
        .select("doc_id", "clean_text")
    )


#: A span is boilerplate when it occurs in at least this many DISTINCT
#: documents (C4 removes any line repeated >= 3 times in the corpus).
BOILERPLATE_MIN_DOCS = 3


@register(
    "qd14_boilerplate_spans",
    tags=("dedup", "text"),
    oracle=f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents),
spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(list_slice(ts, i*{SPAN_TOKENS}+1, i*{SPAN_TOKENS}+{SPAN_TOKENS}), ' ') AS span
  FROM base,
       LATERAL (SELECT unnest(range(CAST(ceil(len(ts)/{SPAN_TOKENS}.0) AS BIGINT))) AS i) g),
df AS (
  SELECT md5(span) AS h, COUNT(DISTINCT doc_id) AS n_docs
  FROM spans GROUP BY 1),
tagged AS (
  SELECT s.doc_id, s.span_idx, s.span,
         (d.n_docs >= {BOILERPLATE_MIN_DOCS}) AS bp
  FROM spans s JOIN df d ON md5(s.span) = d.h)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       COALESCE(string_agg(CASE WHEN NOT bp THEN span END, ' ' ORDER BY span_idx), '')
         AS clean_text
FROM tagged GROUP BY doc_id
""",
)
def qd14_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal (L2, the C4 "any line
    occurring >= 3 times in the corpus is removed" rule, adapted to
    fixed 10-token spans because the synthetic corpus has no newlines):
    EVERY occurrence of a span present in >= BOILERPLATE_MIN_DOCS
    distinct documents is dropped — unlike qd12, which keeps the
    canonical first occurrence. This is the nav-chrome / cookie-banner
    / license-header killer in a real crawl.

    Scale shape (100 TB): span construction is the same zero-shuffle
    array-slice transform as qd12. Doc-frequency needs distinct docs
    per span digest: (h, doc_id).distinct() then count — both
    exchanges carry ~40-byte digest+id pairs with map-side partial
    combine, never span text. The boilerplate tag-back is a plain
    equi-join on the digest (AQE broadcasts it when the >= 3-doc
    subset is small, as it overwhelmingly is; left as a shuffle join
    otherwise — NOT force-broadcast, because on a pathological corpus
    the boilerplate set is not provably executor-memory-sized).
    Reassembly is one shuffle back to document grain."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # tokenize ONCE behind a projection boundary (same O(n²) guard as
    # qd12 — the slice lambda must reference an attribute)
    toked = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("ts"),
    )
    n_spans = F.ceil(F.size("ts") / F.lit(SPAN_TOKENS)).cast("int")
    spans_arr = F.when(F.size("ts") == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("ts"), i * SPAN_TOKENS + 1, SPAN_TOKENS)),
        )
    )
    spans = toked.select(
        "doc_id", F.posexplode(spans_arr).alias("span_idx", "span")
    ).withColumn("h", F.md5("span"))
    doc_freq = (
        spans.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tagged = spans.join(doc_freq, "h").withColumn(
        "bp", F.col("n_docs") >= BOILERPLATE_MIN_DOCS
    )
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("bp").cast("long")).alias("n_boilerplate"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("bp"), F.struct("span_idx", "span"))
                    )
                ),
                lambda s: s["span"],
            ),
        ).alias("clean_text"),
    )


#: Fuzzy-decontamination Jaccard floor: lower than qd04's 0.8 near-dup
#: bar on purpose — eval contamination hides behind paraphrase-level
#: overlap, so the hygiene pass errs toward recall.
FUZZY_DECONTAM_THRESHOLD = 0.5


def _fuzzy_decontam_oracle(
    bands: int = 2,
    threshold: float = FUZZY_DECONTAM_THRESHOLD,
    max_chars: int = 160,
    mod: int = DECONTAM_EVAL_MOD,
) -> str:
    rows = MINHASH_K // bands
    sig_exprs = ",\n         ".join(
        f"CAST(MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS BIGINT)"
        f" AS sig_{i}"
        for i in range(MINHASH_K)
    )
    band_conds = " OR ".join(
        "("
        + " AND ".join(
            f"t.sig_{b * rows + r} = e.sig_{b * rows + r}" for r in range(rows)
        )
        + ")"
        for b in range(bands)
    )
    return f"""
WITH short_docs AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
  FROM documents WHERE n_chars <= {max_chars}),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS h
  FROM (SELECT doc_id, unnest(toks) AS tok FROM short_docs)),
sigs AS (
  SELECT doc_id, {sig_exprs}
  FROM h GROUP BY doc_id),
cand AS (
  SELECT t.doc_id AS train_id, e.doc_id AS eval_id
  FROM sigs t JOIN sigs e
    ON t.doc_id % {mod} <> 0 AND e.doc_id % {mod} = 0 AND ({band_conds}))
SELECT c.train_id, c.eval_id,
       ROUND(CAST(len(list_intersect(tt.toks, te.toks)) AS DOUBLE)
             / (len(tt.toks) + len(te.toks) - len(list_intersect(tt.toks, te.toks))),
             6) AS jaccard
FROM cand c
JOIN short_docs tt ON c.train_id = tt.doc_id
JOIN short_docs te ON c.eval_id = te.doc_id
WHERE ROUND(CAST(len(list_intersect(tt.toks, te.toks)) AS DOUBLE)
            / (len(tt.toks) + len(te.toks) - len(list_intersect(tt.toks, te.toks))),
            6) >= {threshold}
"""


@register("qd15_fuzzy_decontamination", tags=("dedup", "text"), oracle=_fuzzy_decontam_oracle())
def qd15_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination (L2): training documents whose
    token-set Jaccard against ANY held-out eval document clears a
    recall-oriented 0.5 floor — the paraphrase-tolerant complement to
    qd10's exact 13-gram rule (the Llama/GPT-4 eval-hygiene reports
    pair exactly these two passes). Same eval slice as qd10
    (doc_id % 50 = 0); same short-doc corpus slice as qd04 (see its
    degenerate-vocabulary note).

    Scale shape (100 TB): signatures are one narrow explode + one
    digest-keyed aggregate per side; candidates come from a banded
    equi-join where the EVAL side is the tiny one (a benchmark suite,
    not a crawl), so the bucket join is eval-bounded — never
    train x train, never a cross join. Exact-Jaccard verification
    touches candidates only. The oracle replays the identical
    signatures and banding in SQL, so the check is exact-match."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") <= 160)
    is_eval = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    bands, rows = 2, MINHASH_K // 2
    sigs = minhash_signatures(d)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            *[F.col(f"sig_{b * rows + r}").alias(f"v{r}") for r in range(rows)],
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bucket"))
    cand = (
        banded.filter(~is_eval)
        .select(F.col("doc_id").alias("train_id"), "bucket")
        .join(
            banded.filter(is_eval).select(F.col("doc_id").alias("eval_id"), "bucket"),
            "bucket",
        )
        .select("train_id", "eval_id")
        .distinct()
    )
    toks = d.select("doc_id", distinct_tokens(F.col("text")).alias("toks"))
    t = toks.select(F.col("doc_id").alias("train_id"), F.col("toks").alias("toks_t"))
    e = toks.select(F.col("doc_id").alias("eval_id"), F.col("toks").alias("toks_e"))
    inter = F.size(F.array_intersect("toks_t", "toks_e"))
    union = F.size("toks_t") + F.size("toks_e") - inter
    return (
        cand.join(t, "train_id")
        .join(e, "eval_id")
        .select(
            "train_id",
            "eval_id",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= FUZZY_DECONTAM_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# qd16: semantic dedup — cluster-then-dedup in embedding space
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.4  # within-cluster cosine threshold (synthetic corpus)


def semdedup_drop_ctes(tau: float = SEMDEDUP_TAU) -> str:
    """CTE chain ``pairs0 → scored → drops`` deriving the semantic-dup
    drop set from the ``assign`` CTE; shared with qp03's composed
    pipeline oracle."""
    return f"""pairs0 AS (
  SELECT a.code, a.vec_id AS va, b.vec_id AS vb
  FROM assign a JOIN assign b ON a.code = b.code AND a.vec_id < b.vec_id),
scored AS (
  SELECT p.code, p.va, p.vb,
         (SELECT SUM(x * y) FROM (SELECT unnest(ea.embedding)::DOUBLE AS x,
                                         unnest(eb.embedding)::DOUBLE AS y)) AS dp,
         (SELECT SUM(x * x) FROM (SELECT unnest(ea.embedding)::DOUBLE AS x)) AS na,
         (SELECT SUM(y * y) FROM (SELECT unnest(eb.embedding)::DOUBLE AS y)) AS nb
  FROM pairs0 p
  JOIN embeddings ea ON p.va = ea.vec_id
  JOIN embeddings eb ON p.vb = eb.vec_id),
drops AS (
  SELECT DISTINCT vb AS vec_id FROM scored
  WHERE ROUND(dp / (SQRT(na) * SQRT(nb)), 6) >= {tau})"""


def _semantic_dedup_oracle(tau: float = SEMDEDUP_TAU) -> str:
    from event_stream_aggr_spark.operators.similarity import km_assign_ctes

    return f"""
WITH {km_assign_ctes()},
{semdedup_drop_ctes(tau)}
SELECT a.vec_id, a.code AS cluster, (d.vec_id IS NULL) AS kept
FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
"""


@register(
    "qd16_semantic_dedup",
    bench=True,
    tags=("dedup", "similarity", "clustering"),
    oracle=_semantic_dedup_oracle(),
)
def qd16_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-shaped (L2's embedding-space rule):
    k-means the corpus first (qe08's assignment), then compare pairs
    ONLY within a cluster and drop every vector with a lower-id
    same-cluster neighbor above the cosine threshold. The minimum id
    of each duplicate group survives by construction (no id has a
    lower qualifying partner), so one exemplar per group is kept.

    Scale shape (100 TB): this is the published SemDeDup argument
    made physical — the quadratic is WITHIN-cluster only, and K grows
    with the corpus so per-cluster pair counts stay bounded; the
    cluster assignment itself is qe08's broadcast-centroid dataflow.
    The within-cluster self-join is a plain equi-join on the cluster
    id (shuffle-partitioned, AQE-skew-splittable if one cluster goes
    viral); qd06's LSH routing is the flat alternative when no
    cluster structure is wanted.

    Determinism: cosine rounds to 6dp in both engines (qe01 recipe);
    the dominance rule is a set-membership decision, no iteration."""
    from event_stream_aggr_spark.operators.similarity import kmeans_assign_shared

    # round 16: parallelize=False — this load feeds the SHARED k-means
    # assignment memo (kmeans_assign_shared); a repartitioned input both
    # forks the memo key and leaves the tiny checkpointed assignment in
    # 32 partitions, which cost every downstream consumer ~0.3-0.4 s of
    # empty-task stages (paired min-of-5: qe08 0.59x, qp03 0.65x).
    emb = load_table(spark, sf_dir, "embeddings", parallelize=False)
    assign = kmeans_assign_shared(emb).select("vec_id", "code")
    drops = semantic_drops_shared(emb).withColumn("dropped", F.lit(1))
    return assign.join(drops, "vec_id", "left").select(
        "vec_id",
        F.col("code").alias("cluster"),
        F.col("dropped").isNull().alias("kept"),
    )


def semantic_drops_shared(emb: DataFrame) -> DataFrame:
    """The SemDeDup drop set (vec_id of every vector with a lower-id
    same-cluster neighbor at cosine >= tau), materialized ONCE per
    (session, corpus) via operators.stagecache — qd16 and qp03 both
    consume it, and the within-cluster pair join is the pipeline's
    second most expensive stage after the assignment itself."""
    from event_stream_aggr_spark.operators.similarity import (
        cosine,
        kmeans_assign_shared,
    )
    from event_stream_aggr_spark.operators.stagecache import memoized_stage

    def build() -> DataFrame:
        assign = kmeans_assign_shared(emb).select("vec_id", "code")
        ev = assign.join(emb.select("vec_id", "embedding"), "vec_id")
        a = ev.select(
            F.col("code"),
            F.col("vec_id").alias("va"),
            F.col("embedding").alias("ea"),
        )
        b = ev.select(
            F.col("code"),
            F.col("vec_id").alias("vb"),
            F.col("embedding").alias("eb"),
        )
        return (
            a.join(b, "code")
            .filter(F.col("va") < F.col("vb"))
            .filter(
                F.round(cosine(F.col("ea"), F.col("eb")), 6) >= SEMDEDUP_TAU
            )
            .select(F.col("vb").alias("vec_id"))
            .distinct()
        )

    return memoized_stage("semantic_drops", emb, build)


# ---------------------------------------------------------------------------
# qd17: soft dedup — down-weight duplicate clusters instead of dropping
# ---------------------------------------------------------------------------


@register(
    "qd19_soft_dedup_weights",
    tags=("dedup", "sampling"),
    oracle=f"""
WITH {_lsh_pairs_ctes()},
{_cc_ctes()},
sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY component)
SELECT d.doc_id,
       COALESCE(s.cluster_size, 1) AS cluster_size,
       ROUND(1.0 / COALESCE(s.cluster_size, 1), 6) AS weight,
       ROUND(len(list_filter(string_split(d.text, ' '), x -> x <> ''))
             / COALESCE(s.cluster_size, 1), 6) AS eff_tokens
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.node
LEFT JOIN sizes s ON c.component = s.component
""",
)
def qd19_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15: connected_components fused-convergence rewrite — body
    # touch for hash demotion
    """Soft deduplication: instead of DROPPING near-duplicates (qd08's
    clusters keep one exemplar), keep every copy but weight it
    1/|cluster| so a duplicated document contributes one document's
    worth of gradient in expectation — the down-weighting alternative
    the hard-dedup-vs-diversity literature prefers when near-dups
    carry real variation. eff_tokens is the weighted token mass the
    sampler (qs05's weighted draw) consumes directly.

    Scale shape: reuses the sub-quadratic banded-LSH pair generator +
    min-label-propagation components (qd08's lineage), adds one
    |components|-grain size aggregation and two LEFT joins back at
    doc grain; singletons never enter the component state at all
    (weight 1 by coalesce). Oracle replays banding + recursive-CTE
    closure and the same weighting.
    """
    from event_stream_aggr_spark.operators.cluster import connected_components

    d = load_table(spark, sf_dir, "documents")
    slice_ = d.filter(F.col("n_chars") <= 160)
    pairs = minhash_lsh_pairs(slice_, bands=2, threshold=0.8).select("doc_a", "doc_b")
    # pair list is distinct over doc_a < doc_b (lsh_candidates) — skip
    # CC's edge dedup Exchange
    comp = connected_components(pairs, pairs_unique=True)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    n_tokens = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    return (
        d.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .join(sizes, "component", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
            F.round(1.0 / F.coalesce("cluster_size", F.lit(1)), 6).alias("weight"),
            F.round(
                n_tokens / F.coalesce("cluster_size", F.lit(1)), 6
            ).alias("eff_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# qd18: exact-substring decontamination (containment at the string level)
# ---------------------------------------------------------------------------

SUBSTR_EVAL_MOD = 50  # same held-out slice as qd10/qd15


@register(
    "qd18_substring_decontamination",
    tags=("dedup", "text"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 7),
                i -> md5(array_to_string(t[i:i + 7], ' ')))) AS g
  FROM toks),
eval_first AS (
  SELECT doc_id, g FROM (
    SELECT doc_id,
           md5(array_to_string(t[1:8], ' ')) AS g
    FROM toks WHERE doc_id % {SUBSTR_EVAL_MOD} = 0 AND len(t) >= 8)),
cand AS (
  SELECT DISTINCT e.doc_id AS eval_id, tr.doc_id AS train_id
  FROM eval_first e JOIN grams tr ON e.g = tr.g
  WHERE tr.doc_id % {SUBSTR_EVAL_MOD} <> 0),
hits AS (
  SELECT c.eval_id, c.train_id
  FROM cand c
  JOIN documents ed ON c.eval_id = ed.doc_id
  JOIN documents td ON c.train_id = td.doc_id
  WHERE position(ed.text IN td.text) > 0)
SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_containing_train_docs,
       CAST(MIN(train_id) AS BIGINT) AS first_train_id
FROM hits GROUP BY eval_id
""",
)
def qd18_substring_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination — the strictest contamination
    test (GPT-3-style): an eval document is contaminated if its FULL
    text appears verbatim INSIDE any training document. The naive
    form is `train.text CONTAINS eval.text` over |T|×|E| pairs — a
    quadratic scan of gigabytes of text; the routed form here only
    runs the substring check on candidates that share the eval doc's
    FIRST 8-token gram (a verbatim containment must contain every
    gram, so the first one is a complete, cheap necessary condition).

    Scale shape: the gram index is qd10's md5-gram relation (fixed-
    width keys, one equi-join); the expensive `position()` probe runs
    only on the candidate pairs, with full text joined in at candidate
    grain — the same filter-then-verify discipline as every LSH path.
    Short eval docs (<8 tokens) have no first-gram and are handled by
    the (absent here, stated) length-bucketed fallback.
    """
    from event_stream_aggr_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "text", tokens(F.col("text")).alias("t"))
    grams = d.select(
        "doc_id", F.explode(ngram_hashes(F.col("text"), 8)).alias("g")
    )
    eval_first = (
        toks.where((F.col("doc_id") % SUBSTR_EVAL_MOD == 0) & (F.size("t") >= 8))
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice(F.col("t"), 1, 8))).alias("g"),
        )
    )
    cand = (
        eval_first.alias("e")
        .join(grams.alias("tr"), "g")
        .where(F.col("tr.doc_id") % SUBSTR_EVAL_MOD != 0)
        .select(
            F.col("e.doc_id").alias("eval_id"), F.col("tr.doc_id").alias("train_id")
        )
        .distinct()
    )
    ed = d.select(F.col("doc_id").alias("eval_id"), F.col("text").alias("etext"))
    td = d.select(F.col("doc_id").alias("train_id"), F.col("text").alias("ttext"))
    hits = (
        cand.join(ed, "eval_id")
        .join(td, "train_id")
        .where(F.instr(F.col("ttext"), F.col("etext")) > 0)
    )
    return hits.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("n_containing_train_docs"),
        F.min("train_id").alias("first_train_id"),
    )


# ---------------------------------------------------------------------------
# qa08: curation data-loss ledger (per-stage doc/token accounting)
# ---------------------------------------------------------------------------


@register(
    "qa08_curation_ledger",
    tags=("audit", "dedup", "scale"),
    oracle="""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents),
quality AS (
  SELECT doc_id, ts FROM base
  WHERE len(ts) BETWEEN 30 AND 100000
    AND length(array_to_string(ts, '')) BETWEEN 3 * len(ts) AND 10 * len(ts)
    AND len(list_filter(ts, x -> x IN ('the','a','of','and','to','in','is'))) * 50
        >= 3 * len(ts)),
spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(list_slice(ts, i*10+1, i*10+10), ' ') AS span
  FROM quality,
       LATERAL (SELECT unnest(range(CAST(ceil(len(ts)/10.0) AS BIGINT))) AS i) g),
ranked AS (
  SELECT doc_id, span_idx, span,
         row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn
  FROM spans),
cleaned AS (
  SELECT doc_id,
         COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '')
           AS clean_text
  FROM ranked GROUP BY doc_id),
nonempty AS (SELECT doc_id, clean_text FROM cleaned WHERE clean_text <> ''),
survivors AS (
  SELECT doc_id, clean_text FROM (
    SELECT doc_id, clean_text,
           row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) AS dup_rn
    FROM nonempty) s WHERE dup_rn = 1),
tok AS (SELECT 1)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS stage_idx, 'ingest' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(ts)) AS BIGINT) AS n_tokens
  FROM base
  UNION ALL
  SELECT 1, 'quality_gate', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(len(ts)) AS BIGINT)
  FROM quality
  UNION ALL
  SELECT 2, 'span_dedup', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(len(list_filter(string_split(clean_text, ' '), x -> x <> '')))
              AS BIGINT)
  FROM nonempty
  UNION ALL
  SELECT 3, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(len(list_filter(string_split(clean_text, ' '), x -> x <> '')))
              AS BIGINT)
  FROM survivors)
""",
)
def qa08_curation_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation DATA-LOSS LEDGER — the per-stage accounting table
    every real curation run publishes alongside its output (what did
    the quality gate drop? how many tokens did span dedup shave? how
    many whole documents were exact dups?): document and token counts
    at each boundary of qd13's pipeline, computed over the SAME stage
    relations the registered pipeline flows (curation_quality_stage /
    curation_despan_stage / curation_exact_stage — the ledger can't
    drift from the pipeline because they share the dataflow).

    Scale shape: each stage row is one map-side-combinable count/sum
    aggregate over the corresponding stage relation; the stages
    themselves keep qd13's audited shapes (gate fused into the scan,
    canonical-first span dedup as min-agg + skew-splittable equi-join,
    digest-grain exact dedup). Output is exactly 4 rows. Token counts
    are exact integers in both engines."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ts0 = F.filter(F.split("text", " "), lambda x: x != "")
    q = curation_quality_stage(d)
    c = curation_despan_stage(q)
    e = curation_exact_stage(c)
    clean_toks = F.size(F.filter(F.split("clean_text", " "), lambda x: x != ""))

    def stage(idx: int, name: str, df: DataFrame, nt) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(nt).cast("long").alias("n_tokens"),
        ).select(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
        )

    return (
        stage(0, "ingest", d.select(ts0.alias("t0")), F.size("t0"))
        .unionAll(stage(1, "quality_gate", q, F.size("ts")))
        .unionAll(stage(2, "span_dedup", c, clean_toks))
        .unionAll(stage(3, "exact_dedup", e, clean_toks))
    )


# ---------------------------------------------------------------------------
# Band-canonical near-dedup: the batch kernel of the streaming near-dup
# operator (streaming/near_dedup.py) — round 11
# ---------------------------------------------------------------------------


def band_canonical_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    seen_buckets: DataFrame | None = None,
    gen_out: list[int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Greedy band-canonical near-dedup of ONE batch of documents,
    optionally against the band buckets of previously KEPT docs —
    the batch kernel `streaming/near_dedup.py` folds over micro-batches
    (an ingest-time near-dup gate: drop arriving docs that look like
    anything already admitted to the corpus).

    A doc is DROPPED iff
    (a) any of its MinHash band buckets appears in ``seen_buckets``
        (near-dup of an earlier kept doc — cross-batch), else
    (b) any of its buckets contains a smaller ``id_col`` among the
        docs surviving (a) in this batch (the qd12 canonical-first
        rule at band grain: one min-aggregate + one equi-join, no
        iteration).
    TOKEN-LESS docs (empty, whitespace-only, or NULL ``text_col``)
    have no shingle set, hence no MinHash signature and no band
    buckets — they can be a near-duplicate of nothing, so they are
    ALWAYS KEPT (round-11 ADVICE: the band dataflow alone would
    silently drop them — data loss for inputs that are not near-dups
    of anything). They contribute no buckets to ``kept_buckets``
    (nothing to match on), so the streaming store never grows by
    them; collapsing IDENTICAL empty docs is exact dedup's job
    (``streaming/pipeline.py`` / qd01), not a similarity gate's.
    Rule (b) is deliberately GREEDY, not transitively closed: if A<B
    share band 1 and B<C share band 2 (A≁C), C is dropped even though
    its bucket's canonical B was itself dropped. Note the asymmetry
    with rule (a): across batches only ADMITTED docs veto (a next-batch
    C would be kept — B never entered the store), so batch boundaries
    matter exactly at chain middles; the precise contract is stated in
    streaming/near_dedup.py and pinned in
    tests/test_streaming_near_dedup.py. Connected-component closure is
    qd08's job, offline.

    Returns ``(kept_ids, kept_buckets)``: the surviving ids and THEIR
    band buckets (what the streaming store persists — state is
    buckets-of-kept-docs, a few longs per admitted doc, not text).

    Scale shape: banding is one explode + one shuffle keyed by doc id
    (``band_buckets``); both rules are bucket-grain equi-joins
    (left_semi/left_anti — AQE-splittable) plus one min-agg; no
    window, no quadratic block, and the candidate structure is the
    same bucket equality qd04's LSH uses."""
    from event_stream_aggr_spark.operators.lifecycle import (
        disk_checkpoint_lazy,
    )

    banded = band_buckets(docs, id_col, text_col, bands)
    # Materialize the banded relation ONCE (round-13, found by the
    # near-dedup stream's stage budget): the two drop rules reference
    # ``banded`` from six plan positions and Spark reuses NONE of them
    # — the executed kept_buckets plan scanned the source and re-ran
    # shingle explode + MinHash six times per evaluation. DISK_ONLY
    # lazy checkpoint: blocks materialize with the caller's first
    # action and every later branch reads them. ``gen_out`` (streaming
    # callers) receives the generation ids so the sink can free the
    # blocks after its own eager checkpoint supersedes them; one-shot
    # offline callers leave them to GC with the returned frame.
    banded, _banded_gen = disk_checkpoint_lazy(banded)
    if gen_out is not None:
        gen_out.extend(_banded_gen)
    if seen_buckets is not None:
        hit = (
            banded.join(seen_buckets.select("bucket"), "bucket", "left_semi")
            .select(id_col)
            .distinct()
        )
        survivors = banded.join(hit, id_col, "left_anti")
    else:
        survivors = banded
    canon = survivors.groupBy("bucket").agg(F.min(id_col).alias("_canon"))
    dropped = (
        survivors.join(canon, "bucket")
        .filter(F.col(id_col) != F.col("_canon"))
        .select(id_col)
        .distinct()
    )
    kept_buckets = survivors.join(dropped, id_col, "left_anti")
    kept_ids = (
        kept_buckets.select(id_col)
        .unionByName(tokenless_ids(docs, id_col, text_col))
        .distinct()
    )
    return kept_ids, kept_buckets


def _band_canonical_oracle(bands: int = 2, max_chars: int = 160) -> str:
    """Replays the single-batch kernel in SQL: same md5-derived
    signatures as ``_minhash_oracle``, a doc dropped iff a smaller
    doc_id agrees with it on any band; token-less docs (no shingle
    set → no signature row) are kept via the UNION ALL branch,
    mirroring the kernel's ``tokenless_ids`` path."""
    rows = MINHASH_K // bands
    sig_exprs = ",\n         ".join(
        f"CAST(MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS BIGINT)"
        f" AS sig_{i}"
        for i in range(MINHASH_K)
    )
    band_conds = " OR ".join(
        "("
        + " AND ".join(
            f"a.sig_{b * rows + r} = b.sig_{b * rows + r}" for r in range(rows)
        )
        + ")"
        for b in range(bands)
    )
    return f"""
WITH short_docs AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
  FROM documents WHERE n_chars <= {max_chars}),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS h
  FROM (SELECT doc_id, unnest(toks) AS tok FROM short_docs)),
sigs AS (
  SELECT doc_id, {sig_exprs}
  FROM h GROUP BY doc_id),
dropped AS (
  SELECT DISTINCT a.doc_id
  FROM sigs a JOIN sigs b ON b.doc_id < a.doc_id AND ({band_conds}))
SELECT doc_id FROM sigs
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
UNION ALL
SELECT doc_id FROM short_docs WHERE coalesce(len(toks), 0) = 0
"""


@register(
    "qd17_band_canonical_dedup",
    tags=("dedup", "streaming-twin"),
    oracle=_band_canonical_oracle(),
)
def qd17_band_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-batch form of ``band_canonical_dedup`` (the streaming
    near-dup gate's kernel, round 11) over the short documents — the
    kept doc_ids under the greedy smaller-id-wins band rule. Short-doc
    restriction and bands=2 match qd04 (the synthetic corpus's
    ~30-word vocabulary makes long-doc signatures all collide —
    MinHash's degenerate case). The oracle replays the exact dataflow
    in SQL: identical md5-derived signatures, drop iff a smaller
    doc_id agrees on any band. tests/test_streaming_near_dedup.py pins
    the streaming fold's contract against this kernel (single batch ==
    kernel; across batches only ADMITTED docs veto).

    Scale shape: banding is one explode + one per-doc-keyed shuffle
    (signature width k longs regardless of document size); both drop
    rules are bucket-grain equi-joins (left_semi/left_anti, AQE-
    splittable) plus one map-side-combinable min-aggregate — the same
    sub-quadratic bucket structure as qd04's LSH, never an all-pairs
    block, no window."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") <= 160)
    kept, _ = band_canonical_dedup(d, bands=2)
    return kept


# ---------------------------------------------------------------------------
# qd20: LSH S-curve recall audit (measured vs theoretical banding curve)
# ---------------------------------------------------------------------------

#: qd20 geometry: 2 bands x 4 rows over the MINHASH_K=8 signature —
#: theoretical candidate probability 1-(1-J^4)^2 — audited against
#: the measured per-Jaccard-bucket recall on ground-truth pairs at
#: J >= 2/5 (the exact prefix-filtered all-pairs, never sampled).
S_CURVE_BANDS = 2
S_CURVE_T = (2, 5)


def _s_curve_expected_ppm() -> dict[int, int]:
    """Bucket -> theoretical candidate probability in ppm, from the
    bucket midpoint (bucket 10 holds exactly J = 1.0). Computed in
    Python once and embedded as identical integer literals in BOTH
    engines — no cross-engine pow() in the dataflow."""
    rows = MINHASH_K // S_CURVE_BANDS
    out = {}
    for b in range(4, 11):
        m = 1.0 if b == 10 else (b + 0.5) / 10
        out[b] = round((1 - (1 - m**rows) ** S_CURVE_BANDS) * 1_000_000)
    return out


@register(
    "qd20_lsh_s_curve",
    tags=("dedup", "audit"),
    oracle=f"""
WITH {_lsh_pairs_ctes(S_CURVE_BANDS)},
allpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
           AS j
  FROM short_docs a JOIN short_docs b ON a.doc_id < b.doc_id),
exact AS (SELECT * FROM allpairs WHERE j >= {S_CURVE_T[0] / S_CURVE_T[1]}),
flag AS (
  SELECT e.j,
         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS found
  FROM exact e LEFT JOIN cand c
    ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b)
SELECT CAST(FLOOR(j * 10) AS BIGINT) AS j_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(found) AS BIGINT) AS n_lsh_found,
       CAST(SUM(found) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm,
       CAST(CASE CAST(FLOOR(j * 10) AS BIGINT)
            {" ".join(f"WHEN {b} THEN {p}" for b, p in _s_curve_expected_ppm().items())}
            END AS BIGINT) AS expected_ppm
FROM flag GROUP BY FLOOR(j * 10)
""",
)
def qd20_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve audit — the banding theory (candidate probability
    1-(1-J^r)^b) turned into checkable data: ground-truth near-dup
    pairs at J >= 0.4 (EXACT, via lossless prefix filtering — never a
    sample) are bucketed by Jaccard and probed against the banded
    candidate set; per bucket the measured recall sits beside the
    theoretical curve at the bucket midpoint (embedded as identical
    integer-ppm literals in both engines — the dataflow itself never
    calls pow). This is the operating-point evidence behind qd04's
    threshold choice: buckets above the 0.8 verification threshold
    must measure near-1 recall, the sub-threshold slope documents what
    the banding deliberately lets through.

    Scale shape (100 TB): ground truth comes from the same lossless
    prefix-filter equi-joins as qd02 (candidate volume bounded by rare
    prefix tokens, never all-pairs — the ORACLE's quadratic all-pairs
    is the independent spec, not the plan); the LSH probe is a pair-
    grain LEFT equi-join against the banded candidate set; the rollup
    is one map-side-combinable aggregate at |buckets| grain. Recall is
    integer cross-multiplied (ppm), no float division."""
    short = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") <= 160
    )
    d = short.select("doc_id", distinct_tokens(F.col("text")).alias("toks"))
    exact = prefix_filtered_pairs(
        d, "toks", S_CURVE_T[0], S_CURVE_T[1], []
    )
    cand = lsh_candidates(short, bands=S_CURVE_BANDS).withColumn(
        "found", F.lit(1)
    )
    flagged = exact.join(cand, ["doc_a", "doc_b"], "left").select(
        F.floor(F.col("jaccard") * 10).cast("long").alias("j_bucket"),
        F.coalesce("found", F.lit(0)).alias("found"),
    )
    expected = _s_curve_expected_ppm()
    expected_col = None
    for b, p in expected.items():
        cond = F.when(F.col("j_bucket") == b, F.lit(p))
        expected_col = cond if expected_col is None else expected_col.when(
            F.col("j_bucket") == b, F.lit(p)
        )
    return (
        flagged.groupBy("j_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum("found").alias("n_lsh_found"),
        )
        .select(
            "j_bucket",
            "n_true_pairs",
            "n_lsh_found",
            F.expr("n_lsh_found * 1000000 div n_true_pairs").alias(
                "recall_ppm"
            ),
            expected_col.cast("long").alias("expected_ppm"),
        )
    )
