"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
(BASELINE.json north-star).

Design for scale (the whole point of these at 100 TB):

- exact dedup: one hash-shuffle on sha256 — linear.
- MinHash+LSH: shingle → per-doc signature (explode + min aggregates, one
  shuffle on doc_id) → band buckets → self-join per bucket. The band join
  only pairs docs sharing a band key, so candidate generation is
  output-bounded instead of O(n²); banding (b bands × r rows) tunes the
  Jaccard threshold ~ (1/b)^(1/r).
- SimHash: per-token bit votes aggregated per doc (one shuffle), 64→16
  bit signature; near-dup = small Hamming distance — comparable via
  bit_count(xor) on candidate pairs only.
- verification: exact n-gram Jaccard on the candidate pairs.

Cross-engine determinism: hashes are md5 hex (identical in Spark and
DuckDB); each minhash = integer MIN over a 32-bit slice of a (salted)
shingle md5 (order-independent, and integer MIN keeps Spark on
HashAggregate); no float accumulation anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from api_etl_pipeline_spark.checkpoint import eager_checkpoint, lazy_checkpoint
from api_etl_pipeline_spark.registry import query
from api_etl_pipeline_spark.tables import load_table

# Production LSH geometry (round-12 verdict task 2): 32 bands × 2 rows
# over 64 min-wise hashes. The r12-shipped 2-band × 2-row / 4-hash
# geometry measured 0.18 recall at the audit's J band by its own
# instrument (dd16); banding theory puts the b32r2 candidate threshold
# at (1/32)^(1/2) ≈ 0.18 with P[candidate] = 1-(1-J²)^32 = 0.73 / 0.87
# / 0.996 at J = 0.20 / 0.25 / 0.40 — matched to the audit's is_dup bar
# (J ≥ 0.2) instead of sitting far above it (the b16r2 intermediate
# measured 0.767 at sf0.01, just under the ≥0.8 target; both remain
# measured rows in dd17's sweep). 64 hashes = 512 B of signature state
# per doc, the middle of the 32-128 range SCALE.md's band-math row
# prescribes; each hash is one 32-bit slice of a SALTED md5 computed in
# the SAME shingle explode (16 md5s per shingle, no extra scan — the
# dd17 device). The old b2r2 geometry survives inside dd17's sweep as
# the measured contrast row.
N_MINHASH = 64
N_BANDS = 32
ROWS_PER_BAND = 2
assert N_BANDS * ROWS_PER_BAND == N_MINHASH
_N_MD5 = N_MINHASH // 4  # 4 32-bit slices per md5
# salt convention shared with dd17's sweep since r9: md5 #0 is unsalted
# (h = md5(shingle), byte-identical to the original 4-hash signature),
# md5 #k prepends 'g{k+1}' (h2 = md5('g2'||shingle), ...)
_MD5_SALTS = tuple("" if k == 0 else f"g{k + 1}" for k in range(_N_MD5))

_SQL_SAFE_RE = __import__("re").compile(r"^[A-Za-z0-9_]*$")


def _sql_safe(s: str) -> str:
    """Guard for Python strings interpolated into single-quoted SQL
    (r14 advice): salts, geometry names and hash-column names are
    constants today, but a future quote/backslash would break the parse
    or silently change the hashed value — assert the safe alphabet at
    the interpolation site instead of trusting call-site discipline."""
    if not _SQL_SAFE_RE.match(s):
        raise ValueError(f"unsafe string for SQL interpolation: {s!r}")
    return s


def _shingles(toks: Column) -> Column:
    """Token 3-gram shingles from a *materialized* tokens column (empty
    when the doc has <3 tokens). The tokens array must be projected in a
    separate select first — inlining split() here would make Catalyst
    re-evaluate the split for every element_at call (3 per shingle)."""
    n = F.size(toks)
    return F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _duck_sig_from(rel: str) -> str:
    """Signature SQL over an arbitrary (doc_id, text) relation —
    generated from the module geometry so the oracle can never drift
    from the Spark form. The N_MINHASH hash functions are the disjoint
    8-hex-char slices of _N_MD5 salted md5s per shingle (all computed in
    the one UNNEST pass), each converted to BIGINT: integer MINs keep
    Spark on HashAggregate (a string MIN falls back to SortAggregate:
    sort-dominated, ~3x slower)."""
    shingle = "tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2]"
    hashes = ",\n                   ".join(
        f"md5({('' if not s else repr(s) + ' || ')}{shingle}) AS h{k}"
        for k, s in enumerate(_MD5_SALTS)
    )
    mins = ",\n           ".join(
        f"MIN(('0x' || substr(h{j // 4}, {1 + 8 * (j % 4)}, 8))::BIGINT) AS mh{j}"
        for j in range(N_MINHASH)
    )
    return f"""
    SELECT doc_id,
           {mins}
    FROM (
        SELECT doc_id,
                   {hashes}
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM {rel}),
             UNNEST(generate_series(1, len(tokens) - 2)) AS u(i)
        WHERE len(tokens) >= 3
    )
    GROUP BY doc_id
    """


_DUCK_SIGNATURES = _duck_sig_from("documents")


def _sig_hash_exprs() -> list[str]:
    """The _N_MD5 salted md5 columns over an exploded `shingle` column —
    shared by _signatures_of and dd17's sweep (same salt convention).
    SQL-string form (r14, the _fastlit device): the former per-Column
    builder cost ~6 py4j round trips per hash column on EVERY query
    construction; one selectExpr parse emits the identical expressions."""
    return [
        (
            f"md5(cast(shingle as binary)) AS h{k}"
            if not s
            else f"md5(cast(concat('{_sql_safe(s)}', shingle) as binary)) AS h{k}"
        )
        for k, s in enumerate(_MD5_SALTS)
    ]


def _min_slice_aggs(prefix: str = "mh") -> list[Column]:
    """N_MINHASH per-doc MIN aggregates: hash j = 32-bit slice j%4 of
    salted md5 j//4. MIN is order-independent, so the signature is
    partition-layout-invariant. Each aggregate is one F.expr parse of
    the identical expression the per-function Column builder produced."""
    return [
        F.expr(
            f"min(cast(conv(substring(h{j // 4}, {1 + 8 * (j % 4)}, 8), 16, 10)"
            f" as bigint)) AS {prefix}{j}"
        )
        for j in range(N_MINHASH)
    ]


def _signatures_of(d: DataFrame) -> DataFrame:
    """(doc_id, text) → doc_id + N_MINHASH minhash values: explode
    shingles once, compute all _N_MD5 salted md5s of each shingle in
    that ONE pass, and take per-doc MINs of their disjoint 32-bit hex
    slices (4 independent min-wise hashes per md5 call)."""
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    sh = toks.select(
        "doc_id", F.explode(_shingles(F.col("toks"))).alias("shingle")
    ).selectExpr("doc_id", *_sig_hash_exprs())
    return sh.groupBy("doc_id").agg(*_min_slice_aggs())


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures_of(load_table(spark, sf_dir, "documents"))


def _band_hashes(band: int, rows: int = ROWS_PER_BAND) -> list[str]:
    """Hash column names owned by one band: band i takes the contiguous
    slice [i*rows, (i+1)*rows) — the convention every geometry in dd17's
    sweep shares, so shorter geometries' bands are PREFIXES of the
    production band set (supersets are provable, not asserted)."""
    return [f"mh{band * rows + j}" for j in range(rows)]


def _bucket_sql(cols: list[str]) -> str:
    """SQL text of the band-bucket hash over hash-column names — the
    single source both the Column wrapper and the one-parse band
    builders share (r14: one expr parse instead of ~6 py4j round trips
    per Column op, identical expression)."""
    cat = ", ".join(f"cast({_sql_safe(c)} as string)" for c in cols)
    return f"md5(cast(concat_ws('_', {cat}) as binary))"


def _bucket_col(cols: list[str]) -> Column:
    return F.expr(_bucket_sql(cols))


def _lsh_bands(sig: DataFrame) -> DataFrame:
    """Signatures → (doc_id, band, bucket): all N_BANDS bands in ONE
    pass over the signatures (explode, not union — a union would
    recompute the whole shingle→signature subtree per band). The whole
    explode(array(struct...)) tree is ONE SQL parse (r14): the
    per-Column form cost ~500 py4j round trips per construction."""
    structs = ", ".join(
        f"struct({i} as band, {_bucket_sql(_band_hashes(i))} as bucket)"
        for i in range(N_BANDS)
    )
    return sig.selectExpr(
        "doc_id", f"explode(array({structs})) as bb"
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _duck_bands_from(sig: str) -> str:
    """Band SQL over a signature relation — generated from the same
    geometry (band i buckets mh[2i], mh[2i+1])."""
    parts = [
        "SELECT doc_id, {i} AS band, md5({cat}) AS bucket FROM {sig}".format(
            i=i,
            sig=sig,
            cat=" || '_' || ".join(f"{c}::VARCHAR" for c in _band_hashes(i)),
        )
        for i in range(N_BANDS)
    ]
    return "\n        UNION ALL\n        ".join(parts)


@query(
    "dd01_exact_dup_groups",
    oracle="""
    SELECT sha256(text) AS content_sha256,
           COUNT(*)::BIGINT AS n_docs,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY sha256(text)
    HAVING COUNT(*) > 1
    """,
)
def dd01_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content sha256; groups >1 are the
    duplicate clusters, min doc_id the canonical keeper."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text").cast("binary"), 256).alias("content_sha256"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "dd02_dedup_keep_first",
    oracle="""
    SELECT md5(array_to_string((string_split(text, ' '))[1:3], ' ')) AS prefix_key,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*)::BIGINT AS group_size
    FROM documents
    GROUP BY 1
    """,
)
def dd02_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup on a fuzzy key (3-token prefix fingerprint):
    deterministic keeper = MIN(doc_id) per group — the stable version of
    dropDuplicates (whose survivor is partition-order-dependent)."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 3), " ").cast("binary"))
    return d.groupBy(key.alias("prefix_key")).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("group_size")
    )


@query("dd03_minhash_signatures", oracle=_DUCK_SIGNATURES)
def dd03_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over 3-gram shingles (N_MINHASH=64 hash
    functions = 32-bit slices of the 16 salted md5 variants; the
    signature approximates set identity under Jaccard)."""
    return _signatures(spark, sf_dir)


_DUCK_LSH_PAIRS = f"""
    WITH sig AS ({_DUCK_SIGNATURES}),
    bands AS (
        {_duck_bands_from("sig")}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id
"""


def dd04_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpointed full-corpus band table at the production
    geometry — the relation every production-geometry consumer
    checkpoints: dd04's self-join sides, dd13's candidate source,
    the dd04_components build (hence dd09/dd10/samp06), and the
    llm01/llm02 funnels' near-dup stage.

    Memoized per (session, sf_dir, geometry) since r14: the checkpoint's
    materialization job (the shingle→16-md5→64-min signature pass, the
    most expensive map-side work in the repo) used to re-run at EVERY
    consumer's construction — bench.py constructs each query 5×, so one
    bench run paid it ~25 times (~2.5 s each at sf0.1). The r13 verdict
    sanctioned exactly this device for the component map
    (dd04_components); the band table is the same shared-construction
    state one level down. The one-time wall lands in
    construction_shared_sec; every consumer's TIMED region (band
    self-join + downstream) is unchanged."""
    from api_etl_pipeline_spark._memo import session_memo

    # eager, not lazy (r15, r14 verdict item 2): a lazy checkpoint
    # materializes at the first consumer's FIRST TIMED RUN, which
    # min-of-N discards — the materialization second appeared in no
    # metric. Eager materialization inside the memoized builder lands
    # the full build wall in construction_shared_sec; timed runs read
    # the same materialized blocks either way.
    return session_memo(
        spark,
        ("lsh_bands", sf_dir, N_MINHASH, N_BANDS, ROWS_PER_BAND),
        lambda: eager_checkpoint(_lsh_bands(_signatures(spark, sf_dir))),
        wall_label=f"lsh_bands[{os.path.basename(str(sf_dir).rstrip('/'))}]",
    )


@query("dd04_minhash_lsh_pairs", oracle=_DUCK_LSH_PAIRS)
def dd04_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding at the production geometry: 32 bands × 2 rows over 64
    hashes (candidate threshold ≈ (1/32)^(1/2) ≈ 0.18; dd16 measures the
    realized recall/precision, dd17 the trade-off curve vs the retired
    b2r2 default). Docs agreeing on a whole band land in the same
    bucket; the bucket self-join emits candidate pairs only (never the
    full cross product). At scale the join shuffles on the bucket key
    and skew-splits hot buckets via AQE."""
    # materialize the small band table once — it feeds both sides of the
    # self-join and would otherwise recompute the signature subtree twice
    # (shared checkpointed build since r14, see dd04_bands)
    bands = dd04_bands(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query(
    "dd05_ngram_jaccard",
    oracle="""
    WITH grams AS (
        SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, len(tokens) - 1),
                   i -> tokens[i] || ' ' || tokens[i + 1])) AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
        WHERE len(tokens) >= 2
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.bg AS bga, b.bg AS bgb
        FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 50
        WHERE a.doc_id < 50
    )
    SELECT doc_a, doc_b,
           len(list_intersect(bga, bgb))::BIGINT AS n_common,
           (len(bga) + len(bgb) - len(list_intersect(bga, bgb)))::BIGINT AS n_union,
           len(list_intersect(bga, bgb))
             / (len(bga) + len(bgb) - len(list_intersect(bga, bgb))) AS jaccard
    FROM pairs
    """,
)
def dd05_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-set Jaccard — the verification stage after LSH
    candidate generation (here over a fixed pair lattice so the oracle is
    closed-form). Set intersection via array_intersect keeps the work
    per-pair and JVM-side; at scale pairs come from dd04's buckets."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    bigrams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        )
    )
    grams = d.filter(F.size(toks) >= 2).select("doc_id", bigrams.alias("bg"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = F.size(F.array_intersect(F.col("a.bg"), F.col("b.bg"))).cast("bigint")
    union = (F.size(F.col("a.bg")) + F.size(F.col("b.bg"))).cast("bigint") - inter
    return (
        a.filter(F.col("a.doc_id") < 50)
        .join(b, F.col("b.doc_id") == F.col("a.doc_id") + 50)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            inter.alias("n_common"),
            union.alias("n_union"),
            (inter / union).alias("jaccard"),
        )
    )


_SIMHASH_BITS = 16


def _duck_simhash_from(rel: str) -> str:
    """dd06's simhash recipe over an arbitrary (doc_id, text) relation —
    parameterized (round 14) so dd25's audit runs the IDENTICAL hash
    over its derived corpus; `_duck_simhash()` keeps dd06's original
    documents-table form."""
    bit_sums = ",\n           ".join(
        f"CASE WHEN SUM(CASE WHEN substr(h, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) > 0"
        f" THEN {1 << j} ELSE 0 END AS b{j}"
        for j in range(_SIMHASH_BITS)
    )
    total = " + ".join(f"b{j}" for j in range(_SIMHASH_BITS))
    return f"""
    SELECT doc_id, ({total})::BIGINT AS simhash
    FROM (
        SELECT doc_id,
           {bit_sums}
        FROM (
            SELECT doc_id, md5(t) AS h
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM {rel})
        )
        GROUP BY doc_id
    )
    """


def _duck_simhash() -> str:
    return _duck_simhash_from("documents")


def _simhash_of(df: DataFrame) -> DataFrame:
    """Spark twin of `_duck_simhash_from`: 16-bit simhash of any
    (doc_id, text) DataFrame — one explode + one grouped aggregation."""
    tok = df.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    h = F.md5(F.col("t").cast("binary"))
    votes = tok.select(
        "doc_id",
        *[
            F.when(F.substring(h, j + 1, 1) >= "8", 1).otherwise(-1).alias(f"v{j}")
            for j in range(_SIMHASH_BITS)
        ],
    )
    agg = votes.groupBy("doc_id").agg(
        *[F.sum(f"v{j}").alias(f"s{j}") for j in range(_SIMHASH_BITS)]
    )
    simhash = sum(
        [
            F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(_SIMHASH_BITS)
        ],
        start=F.lit(0),
    )
    return agg.select("doc_id", simhash.cast("bigint").alias("simhash"))


@query("dd06_simhash", oracle=_duck_simhash())
def dd06_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: each token votes ±1 per bit position (bit j of md5 = hex
    digit j ≥ '8'); the sign of the per-doc vote sum sets the bit. One
    explode + one grouped aggregation — the signature is a 16-bit int."""
    return _simhash_of(load_table(spark, sf_dir, "documents"))


@query(
    "dd07_simhash_hamming",
    oracle=f"""
    WITH sh AS ({_duck_simhash()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming,
           (bit_count(xor(a.simhash, b.simhash)) <= 3) AS near_dup
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 50
    WHERE a.doc_id < 50
    """,
)
def dd07_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup test: Hamming distance = popcount of XOR over the
    fixed pair lattice; ≤3 differing bits flags a near-duplicate."""
    sh = dd06_simhash(spark, sf_dir)
    a = sh.alias("a")
    b = sh.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("bigint")
    return (
        a.filter(F.col("a.doc_id") < 50)
        .join(b, F.col("b.doc_id") == F.col("a.doc_id") + 50)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
            (ham <= 3).alias("near_dup"),
        )
    )


# Size dispatch for connected_components (round 14, the dd22
# literal-vs-broadcast device): an edge set at or below this cap is
# collected and union-found ON THE DRIVER in one pass; above it the
# distributed pointer-jumping loop runs. Rationale: the loop costs
# O(log diameter) Spark JOBS — ~1 s of pure scheduling per round on a
# warm local[32] regardless of data size (measured r14: 14 rounds ≈
# 14 s over a 3k-edge sf0.1 graph whose union-find takes
# milliseconds) — while the edge set is bounded by the DUP RATE, not
# the corpus. 250k edges ≈ 4 MB of long pairs on the driver (the
# bounded-metadata collect class, same budget as the dd22 codebook
# cap); past the cap the log-depth loop is the standard distributed
# form and its per-round cost amortizes over real work. Tests pin the
# two paths equal by monkeypatching the cap to 0/∞; the deep-chain
# regression pins the DISTRIBUTED path explicitly.
CC_DRIVER_MAX_EDGES = 250_000


def _cc_driver_union_find(
    spark: SparkSession, edge_rows: list, id_type: str
) -> DataFrame:
    """Exact min-label components via union-find with path compression
    (union-by-min: the larger root attaches under the smaller, so each
    final root IS the component's minimum vertex id — independent of
    edge order). Mirrors the pytest third-engine union-find pin."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    data = [(v, find(v)) for v in parent]
    return spark.createDataFrame(
        data, schema=f"vertex {id_type}, component {id_type}"
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iters: int = 20
) -> DataFrame:
    """Connected components by minimum-label propagation WITH pointer
    jumping — the clustering step between candidate-pair generation
    (dd04/dd07/dd08) and keep-one-per-cluster dedup. Returns (vertex,
    component) where component is the minimum vertex id reachable.

    SIZE-DISPATCHED (round 14): the materialized edge count picks the
    strategy — at or below CC_DRIVER_MAX_EDGES the labels come from a
    driver union-find over the collected pairs (exact same min-label
    fixpoint; the collect is bounded by the cap, never the corpus);
    above it the distributed loop below runs. Both paths are pinned
    equal by pytest on the same graphs.

    Spark-first shape (the above-cap path): each iteration is (a) one
    neighbor round
    (edges ⋈ labels → per-vertex min over both directions + self) and
    (b) one POINTER-JUMP round (labels ⋈ labels on component=vertex:
    c(v) ← c(c(v)) — path halving), with `localCheckpoint` truncating
    the lineage so the plan doesn't grow exponentially with iterations
    (the classic iterative-algorithm trap; on a cluster use
    `spark.checkpoint.dir` + checkpoint()). Neighbor-only propagation
    needs O(diameter) rounds — the round-13 production LSH geometry's
    higher recall produced sf0.1 near-dup CHAINS deeper than 20 hops,
    which under-converged the old form (caught by the sf0.1 oracle
    sweep; dup clusters are NOT always near-cliques). The jump step
    doubles the effective hop length per round, so convergence is
    O(log diameter): 20 iterations covers diameters ~2^20. Convergence
    is detected with a changed-labels probe every SECOND round (r13
    verdict task 2b: the probe is a count() job whose cost is pure
    scheduling overhead at 20 rounds; probing odd rounds halves the
    job count at worst one extra — already-converged — iteration); the
    final labels are exact min-reachable ids, matching the oracles'
    WITH RECURSIVE transitive closure. This is the SURVEY-sanctioned
    rows-only category: genuinely iterative, not SQL-expressible.

    The edge list is checkpointed ONCE up front (r13 verdict task 2):
    it is consumed by the dispatch count and then joined in every
    iteration, and an unmaterialized edge relation re-executes the
    whole upstream candidate-pair pipeline (signatures + band join for
    dd04 input) per round — at 20 rounds that multiplied the most
    expensive map-side work in the dedup family by 20×. Edge state is
    bounded by the duplication rate, not the corpus, so materializing
    it is the cheap side of that trade at any scale.
    """
    e2 = eager_checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    if e2.count() <= CC_DRIVER_MAX_EDGES:
        id_type = e2.schema["u"].dataType.simpleString()
        rows = [(r["u"], r["v"]) for r in e2.collect()]
        return _cc_driver_union_find(e2.sparkSession, rows, id_type)
    both = e2.unionByName(
        e2.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = (
        both.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .transform(eager_checkpoint)
    )
    for it in range(max_iters):
        neighbor_min = (
            both.join(labels, both.v == labels.vertex)
            .groupBy(F.col("u").alias("vertex"))
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = labels.join(neighbor_min, "vertex", "left").select(
            "vertex",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
            (F.col("nbr_min") < F.col("component")).alias("changed"),
        )
        # pointer jump (path halving): follow the label one more hop —
        # component ids are themselves vertex ids, so their CURRENT
        # labels re-join on vertex. least() keeps monotonicity (labels
        # only ever decrease), and `changed` ORs in the jump so a round
        # that only shortcuts pointers still counts as progress.
        parent = stepped.select(
            F.col("vertex").alias("p_vertex"), F.col("component").alias("p_component")
        )
        new_labels = (
            stepped.join(
                parent, stepped.component == parent.p_vertex, "left"
            )
            .select(
                "vertex",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("p_component"), F.col("component")),
                ).alias("component"),
                (
                    F.col("changed")
                    | (F.col("p_component") < F.col("component"))
                ).alias("changed"),
            )
        ).transform(eager_checkpoint)  # truncate lineage each round
        labels = new_labels.drop("changed")
        # probe convergence on odd rounds and the last round only
        if it % 2 == 1 or it == max_iters - 1:
            n_changed = new_labels.filter(F.col("changed")).limit(1).count()
            if n_changed == 0:
                break
    return labels


# Empty: every shared-build wall is in _memo.SHARED_BUILD_WALLS; kept
# because perfbench/workloads.py:_memo_build_s still sums this dict.
SHARED_BUILD_WALLS: dict[str, float] = {}


def dd04_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (vertex, component) map over dd04's production-geometry LSH
    candidate pairs — built once per (session, sf_dir, geometry) and
    shared by every consumer (dd09/dd10/samp06), whose constructions
    would otherwise each re-run the component loop."""
    from api_etl_pipeline_spark._memo import session_memo

    # the labelled band build the pairs read runs before this build's
    # timer, so its wall is not counted under both labels
    dd04_bands(spark, sf_dir)
    return session_memo(
        spark,
        ("dd04_components", sf_dir, N_MINHASH, N_BANDS, ROWS_PER_BAND),
        lambda: connected_components(
            dd04_minhash_lsh_pairs(spark, sf_dir), src="doc_a", dst="doc_b"
        ),
        wall_label=f"dd04_components[{os.path.basename(str(sf_dir).rstrip('/'))}]",
    )


_DUCK_CLOSURE = """
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, label) AS (
        SELECT v, v FROM verts
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.v
    ),
    comp AS (SELECT v AS vertex, MIN(label) AS component FROM reach GROUP BY v)
"""


@query(
    "dd09_dup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({{_DUCK_LSH_PAIRS}}),
    {{_DUCK_CLOSURE}},
    sizes AS (
        SELECT component, COUNT(*)::BIGINT AS cluster_size
        FROM comp GROUP BY component
    )
    SELECT c.vertex AS doc_id, c.component AS cluster_keeper, s.cluster_size
    FROM comp c JOIN sizes s ON c.component = s.component
    """.format(_DUCK_LSH_PAIRS=_DUCK_LSH_PAIRS, _DUCK_CLOSURE=_DUCK_CLOSURE),
)
def dd09_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components over the MinHash-LSH
    candidate pairs (dd04), plus the deterministic keeper (the minimum
    doc_id IS the component label). The Spark side iterates pointer-
    jumping in the driver loop (log-depth); the DuckDB oracle reaches the
    same fixpoint declaratively via WITH RECURSIVE transitive closure
    (UNION-dedup guarantees termination) — two entirely different
    algorithms agreeing on every component is the strongest differential
    check in the dedup family. Cluster membership is additionally pinned
    against a pytest union-find. The component map is the shared
    per-(session, sf, geometry) build (dd04_components) since round
    14, so the three consumers pay its construction once."""
    comp = dd04_components(spark, sf_dir)
    # r14 (guide §2.4): one exchange, not two jobs. The former
    # groupBy+broadcast-join shape ran a separate broadcast-build job
    # (sizes aggregate) plus the probe pass — two scans of the
    # checkpoint, ~0.89 s at sf0.1. COUNT() OVER (PARTITION BY
    # component) computes the same per-cluster size in the single
    # shuffle the query fundamentally needs (0.45 s, rows identical).
    # The window is keyed by component — never global — and at scale
    # it shuffles the same (vertex, component) pairs the join did,
    # minus the broadcast build/ship.
    w = Window.partitionBy("component")
    return comp.select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("cluster_keeper"),
        F.count("*").over(w).alias("cluster_size"),
    )


@query(
    "dd10_keep_best_dedup",
    oracle=f"""
    WITH RECURSIVE pairs AS ({{_DUCK_LSH_PAIRS}}),
    {{_DUCK_CLOSURE}},
    quality AS (
        SELECT doc_id AS vertex,
               (len(list_distinct(string_split(text, ' ')))
                / len(string_split(text, ' '))) AS distinct_ratio
        FROM documents
    ),
    ranked AS (
        SELECT c.component, c.vertex, q.distinct_ratio,
               row_number() OVER (
                   PARTITION BY c.component
                   ORDER BY q.distinct_ratio DESC, c.vertex ASC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY c.component) AS cluster_size
        FROM comp c JOIN quality q ON q.vertex = c.vertex
    )
    SELECT component AS cluster_id, vertex AS keeper_doc_id,
           distinct_ratio AS keeper_quality,
           cluster_size::BIGINT AS cluster_size
    FROM ranked WHERE rn = 1
    """.format(_DUCK_LSH_PAIRS=_DUCK_LSH_PAIRS, _DUCK_CLOSURE=_DUCK_CLOSURE),
)
def dd10_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: within each near-dup cluster (dd09) keep the
    document with the highest lexical diversity (tx02's distinct_ratio),
    tie-broken by doc_id — the production alternative to min-id keepers
    when replicas differ in quality (truncation, boilerplate). Emits one
    row per cluster: keeper + cluster size. max_by on a (ratio, -doc_id)
    struct makes the argmax deterministic in one hash aggregation."""
    comp = dd04_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    quality = (F.size(F.array_distinct(toks)) / F.size(toks)).alias("distinct_ratio")
    scored = d.select(F.col("doc_id").alias("vertex"), quality)
    return (
        comp.join(scored, "vertex")
        .groupBy("component")
        .agg(
            F.max_by(
                "vertex",
                F.struct(F.col("distinct_ratio"), (-F.col("vertex")).alias("neg_id")),
            ).alias("keeper_doc_id"),
            F.max("distinct_ratio").alias("keeper_quality"),
            F.count("*").alias("cluster_size"),
        )
        .select(
            F.col("component").alias("cluster_id"),
            "keeper_doc_id",
            "keeper_quality",
            "cluster_size",
        )
    )


WINNOW_K = 5  # tokens per k-gram (the exact-match granule)
WINNOW_W = 8  # winnow window in k-grams; guarantee = K + W - 1 = 12 tokens


@query(
    "dd11_repeated_substrings",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    kh AS (
        SELECT doc_id, i,
               ('0x' || substr(md5(array_to_string(
                    list_slice(w, i, i + {WINNOW_K - 1}), ' ')), 1, 8))::BIGINT AS h
        FROM toks, UNNEST(generate_series(1, len(w) - {WINNOW_K - 1})) AS t(i)
    ),
    sel AS (
        SELECT doc_id, i,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp,
               COUNT(*) OVER (PARTITION BY doc_id) AS nh
        FROM kh
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM sel WHERE i <= nh - {WINNOW_W - 1}),
    rep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 1)
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT)    AS n_fingerprints,
           CAST(COUNT(r.fp) AS BIGINT) AS n_repeated,
           CAST(COUNT(r.fp) AS DOUBLE) / COUNT(*) AS repeat_frac
    FROM fps f LEFT JOIN rep r USING (fp)
    GROUP BY f.doc_id
    """,
)
def dd11_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal via WINNOWING (the MOSS fingerprint
    algorithm; ExactSubstr's scalable cousin): hash every 5-token k-gram,
    keep the minimum hash of each sliding window of 8 k-grams, and a
    document's fingerprint set is the distinct selected minima. Any
    exact run of ≥ K+W-1 = 12 tokens shared between two documents — AT
    ANY OFFSET, which fixed-stride window hashing misses — is guaranteed
    to contribute a shared fingerprint. Each doc reports its
    cross-document repeated-fingerprint fraction: the boilerplate /
    templated-content score used to trim or drop. (Within-doc
    self-repetition is tx11's job; fingerprints are per-doc distinct.)

    Scale shape: k-gram hashes and window minima are narrow per-row
    array ops over MATERIALIZED columns (tokens, then the hash array —
    the _shingles lesson: a transform lambda re-evaluates captured
    expressions per element, so each stage is projected before the next
    consumes it). One shuffle on the fingerprint (per-doc-distinct
    before explode bounds it at ~n_tokens/W rows per doc), then the
    repeated-fp set — proportional to the corpus DUPLICATION RATE, not
    the corpus — joins back; the per-doc rollup partial-aggregates to
    ~one row per doc per partition. The int32 hash granule reuses dd03's
    md5-slice idiom (bit-identical in DuckDB via '0x'||substr)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    w = F.col("w")
    kidx = F.when(
        F.size(w) >= WINNOW_K,
        F.sequence(F.lit(1), F.size(w) - (WINNOW_K - 1)),
    ).otherwise(F.array().cast("array<int>"))
    kgram_hash = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat_ws(" ", F.slice(w, i, WINNOW_K)).cast("binary")), 1, 8),
        16,
        10,
    ).cast("bigint")
    hashed = d.select("doc_id", F.transform(kidx, kgram_hash).alias("kh"))

    # Sliding-window minima via sparse-table doubling: three passes of
    # pairwise least() at strides 1, 2, 4 give the exact min over each
    # 8-wide window (min(sp4[i], sp4[i+4]) spans positions i..i+7) with
    # ~6n scalar compares and ZERO per-window array allocations — the
    # naive transform(array_min(slice(kh, j, 8))) allocates an 8-element
    # array per position and was the query's hot spot (A/B warm min-of-4
    # at sf0.1: 0.62 s -> 0.55 s, ~12%). Each stage is materialized in its own
    # projection (the _shingles lesson) so lambdas never re-evaluate the
    # previous stage per element.
    def _pair_min(col_name: str, stride: int):
        c = F.col(col_name)
        idx = F.when(
            F.size(c) > stride,
            F.sequence(F.lit(0), F.size(c) - (stride + 1)),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.least(F.get(c, i), F.get(c, i + stride)))

    # stride chain derived from WINNOW_W: doubling strides 1,2,4,... up
    # to W/2 — after the pass at stride s, m[i] = min(kh[i..i+2s-1]), so
    # the final pass covers exactly a W-wide window. Requiring a power
    # of two keeps the chain exact (guards the DuckDB oracle above,
    # which parameterizes on WINNOW_W independently — round-5 advice).
    assert WINNOW_W & (WINNOW_W - 1) == 0 and WINNOW_W >= 2, "WINNOW_W must be a power of 2"
    acc = hashed.select("doc_id", F.col("kh").alias("m"))
    stride = 1
    while stride < WINNOW_W:
        acc = acc.select("doc_id", _pair_min("m", stride).alias("m"))
        stride *= 2
    fps = acc.select(
        "doc_id", F.explode(F.array_distinct(F.col("m"))).alias("fp")
    )
    rep = fps.groupBy("fp").agg(F.count("*").alias("n_docs")).filter(
        F.col("n_docs") > 1
    )
    return (
        fps.join(rep.select("fp", F.lit(1).alias("hit")), "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fingerprints"),
            F.count("hit").alias("n_repeated"),
            (F.count("hit").cast("double") / F.count("*")).alias("repeat_frac"),
        )
    )


SEG_TOKENS = 10  # tokens per dedup segment (the CCNet "paragraph" unit)


@query(
    "dd12_segment_dedup_clean",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(
                   list_slice(w, i * {SEG_TOKENS} + 1, i * {SEG_TOKENS} + {SEG_TOKENS}),
                   ' ') AS seg
        FROM toks,
             UNNEST(generate_series(0, (len(w) + {SEG_TOKENS - 1}) // {SEG_TOKENS} - 1))
               AS t(i)
    ),
    marked AS (
        SELECT doc_id, seg_idx, seg,
               row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1
                 AS kept
        FROM segs
    )
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_segments,
           SUM(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS kept_frac,
           COALESCE(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_idx),
                    '') AS clean_text
    FROM marked GROUP BY doc_id
    """,
)
def dd12_segment_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-segment REMOVAL (the CCNet/Gopher
    line-dedup stage, adapted to this corpus's newline-free text: the
    dedup unit is a fixed 10-token segment). Every segment that appears
    anywhere else in the corpus keeps exactly its FIRST occurrence
    (global order = (doc_id, seg_idx)); later copies are dropped and the
    surviving segments are reassembled into `clean_text`. This is the
    cleaning TRANSFORM that complements dd11's detection signal — dd11
    scores boilerplate, dd12 actually cuts it while preserving one copy
    (dropping all copies, as a naive distinct would, deletes legitimate
    content from the corpus).

    Plan shape (2 exchanges, both linear): segmentation is a narrow
    per-row array op (sequence → slice → concat_ws, zero Python); the
    keep-first decision is ONE shuffle — a row_number window partitioned
    by the segment text ordered by the unique (doc_id, seg_idx) — whose
    group sizes equal each segment's duplication count (bounded by the
    corpus duplication rate; a pathologically hot segment is exactly
    what AQE skew-join/sort handling absorbs, and the 100 TB variant
    would window on xxhash64(seg) to shrink shuffle bytes ~10x — kept as
    plain text here so the oracle shares the key verbatim). Reassembly
    is the second shuffle: per-doc collect of kept (seg_idx, seg)
    structs, array_sort, join — ~n_docs rows. Segment count arithmetic
    is integer-exact on both sides ((n+9)//10 — no float ceil)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    w = F.col("w")
    nseg = F.floor((F.size(w) + F.lit(SEG_TOKENS - 1)) / F.lit(SEG_TOKENS)).cast(
        "int"
    )
    idx = F.when(nseg > 0, F.sequence(F.lit(0), nseg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    seg_of = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(w, i * SEG_TOKENS + 1, SEG_TOKENS)
    )
    segs = d.select(
        "doc_id", F.posexplode(F.transform(idx, seg_of)).alias("seg_idx", "seg")
    )
    first = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    marked = segs.withColumn("kept", F.row_number().over(first) == 1)
    kept_struct = F.when(F.col("kept"), F.struct("seg_idx", "seg"))
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        (
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("kept_frac"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["seg"]
            ),
            " ",
        ).alias("clean_text"),
    )


@query(
    "dd13_containment_dedup",
    oracle=f"""
    WITH pairs AS ({_DUCK_LSH_PAIRS}),
    grams AS (
        SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, len(tokens) - 1),
                   i -> tokens[i] || ' ' || tokens[i + 1])) AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
        WHERE len(tokens) >= 2
    )
    SELECT p.doc_a, p.doc_b,
           len(list_intersect(ga.bg, gb.bg))::BIGINT AS n_common,
           ROUND(len(list_intersect(ga.bg, gb.bg))
             / LEAST(len(ga.bg), len(gb.bg))::DOUBLE, 6) AS containment,
           ROUND(len(list_intersect(ga.bg, gb.bg))
             / (len(ga.bg) + len(gb.bg)
                - len(list_intersect(ga.bg, gb.bg)))::DOUBLE, 6) AS jaccard,
           (len(list_intersect(ga.bg, gb.bg))
              >= 0.8 * LEAST(len(ga.bg), len(gb.bg))) AS is_contained,
           (len(list_intersect(ga.bg, gb.bg))
              >= 0.8 * LEAST(len(ga.bg), len(gb.bg))
            AND len(list_intersect(ga.bg, gb.bg))
              < 0.8 * (len(ga.bg) + len(gb.bg)
                       - len(list_intersect(ga.bg, gb.bg)))) AS containment_only
    FROM pairs p
    JOIN grams ga ON ga.doc_id = p.doc_a
    JOIN grams gb ON gb.doc_id = p.doc_b
    """,
)
def dd13_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment verification over dd04's LSH candidate
    pairs: containment = |A∩B| / min(|A|,|B|) catches subset-duplicates
    (a short doc quoted whole inside a long one) that symmetric Jaccard
    structurally under-scores — the long doc's union term dilutes the
    ratio. `containment_only` flags exactly those pairs: contained at
    the 0.8 bar but NOT Jaccard-similar at the same bar — the
    duplicates a Jaccard-threshold dedup pass silently ships.

    Plan shape: candidates come from dd04's banded bucket self-join
    (output-bounded, never all-pairs); the gram sets ride two equi-joins
    on doc_id (fact-side shuffle each, AQE-broadcast when the candidate
    list is small). Threshold tests are integer cross-multiplications
    (inter >= 0.8*min is exact in double for set sizes < 2^52 — no
    per-engine division rounding in the BOOLEAN columns; the ratio
    columns themselves are display values rounded to 6)."""
    pairs = dd04_minhash_lsh_pairs(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    bigrams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        )
    )
    grams = d.filter(F.size(toks) >= 2).select("doc_id", bigrams.alias("bg"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("bg").alias("bga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("bg").alias("bgb"))
    j = pairs.join(ga, "doc_a").join(gb, "doc_b")
    inter = F.size(F.array_intersect(F.col("bga"), F.col("bgb"))).cast("bigint")
    sa, sb = F.size("bga"), F.size("bgb")
    union = (sa + sb).cast("bigint") - inter
    mn = F.least(sa, sb)
    contained = inter >= 0.8 * mn
    return j.select(
        "doc_a",
        "doc_b",
        inter.alias("n_common"),
        F.round(inter / mn, 6).alias("containment"),
        F.round(inter / union, 6).alias("jaccard"),
        contained.alias("is_contained"),
        (contained & (inter < 0.8 * union)).alias("containment_only"),
    )


@query(
    "dd14_incremental_dedup",
    oracle=f"""
    WITH v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
        FROM documents
    ),
    delta AS (
        SELECT * FROM v2 WHERE doc_id % 10 = 0 OR doc_id % 7 = 0
    ),
    standing AS (
        SELECT * FROM v2 WHERE doc_id % 10 <> 0 AND doc_id % 7 <> 0
    ),
    dsig AS ({_duck_sig_from('delta')}),
    ssig AS ({_duck_sig_from('standing')}),
    dbands AS ({_duck_bands_from('dsig')}),
    sbands AS ({_duck_bands_from('ssig')})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           'delta_standing' AS pair_type
    FROM dbands a JOIN sbands b ON a.band = b.band AND a.bucket = b.bucket
    UNION
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           'delta_delta' AS pair_type
    FROM dbands a JOIN dbands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def dd14_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental / snapshot-aware near-dedup (round-6 verdict task 5):
    the standing-corpus refresh pattern. Compose cur03's snapshot diff
    with dd04's LSH — when version 2 of the corpus lands, only the
    ADDED/CHANGED docs (the delta) are re-shingled and probed, against
    (a) the retained LSH band table of the unchanged standing corpus
    and (b) themselves. Emits candidate pairs (doc_a = delta doc,
    doc_b = partner, pair_type ∈ delta_standing | delta_delta); exact
    verification then runs on candidates only (dd05's stage), and
    dd09/dd10 consume the pairs to update clusters/keepers.

    The two versions are derived deterministically from the one corpus
    exactly as in cur03 (v1 drops doc_id%10==0, v2 revises doc_id%7==0)
    so the oracle can restate both sides; in production v1/v2 are two
    snapshot paths and the standing band table is the MATERIALIZED
    byproduct of the previous version's dedup run — read back, not
    recomputed (here it is recomputed from the standing docs so the
    query is self-contained and oracle-closed).

    Scale shape: this is the dedup analog of inc02's pruned refresh.
    Per refresh, shingling/minhashing is O(|delta|) (plus the one-time
    standing-signature read), the probe join is equi on (band, bucket)
    with the SMALL delta side broadcast-able, and candidate pairs are
    bounded by bucket collisions with the delta — NOT by corpus size.
    Every other dedup operator (dd01-dd13) rescans the full corpus per
    run; at a daily-refresh 100 TB corpus with a ~1% delta, this is the
    difference between reshingling 100 TB and 1 TB. 10x probe in
    SCALE.md measures cost tracking the delta."""
    from api_etl_pipeline_spark._memo import session_memo

    did = F.col("doc_id")

    def _build_delta_bands() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        rev = did % 7 == 0
        v2 = d.select(
            "doc_id",
            F.when(rev, F.concat(F.col("text"), F.lit(" [rev2]")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        delta = v2.filter((did % 10 == 0) | (did % 7 == 0))
        return _lsh_bands(_signatures_of(delta))

    # the delta shingle→signature→band subtree is a PURE plan; its
    # analyzed handle is session-memoized (r14, the _memo contract).
    # The checkpoint below stays per-construction, so every timed run
    # re-shingles the delta from the parquet scan.
    # the delta band table feeds BOTH probe joins — materialize once
    dbands = lazy_checkpoint(
        session_memo(
            spark,
            # geometry in the key, the lsh_bands precedent (dd17's sweep
            # machinery and tests rebind the module geometry)
            ("dd14_delta_bands", sf_dir, N_MINHASH, N_BANDS, ROWS_PER_BAND),
            _build_delta_bands,
            wall_label=f"dd14_delta_bands[{os.path.basename(sf_dir.rstrip('/'))}]",
        )
    )
    # Standing docs' text is UNCHANGED between v1 and v2 (revisions only
    # touch doc_id%7==0, which the standing filter excludes), and the
    # band table is a per-doc function of the text — so the standing
    # band table IS the shared full-corpus dd04_bands checkpoint
    # restricted to standing doc_ids. r14: read it back instead of
    # re-shingling the 76% standing majority per run; this is exactly
    # the production contract the docstring states (the standing band
    # table is the MATERIALIZED byproduct of the previous version's
    # dedup run — read back, not recomputed). Equivalence is oracle-
    # checked (the DuckDB side still recomputes standing signatures
    # from scratch) and pinned in tests/test_round14_opt.py.
    sbands = dd04_bands(spark, sf_dir).filter((did % 10 != 0) & (did % 7 != 0))
    a, b = dbands.alias("a"), dbands.alias("b")
    cross = (
        dbands.alias("a")
        .join(
            sbands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit("delta_standing").alias("pair_type"),
        )
        .distinct()
    )
    within = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit("delta_delta").alias("pair_type"),
        )
        .distinct()
    )
    return cross.unionByName(within)


# dd16 — LSH recall/precision audit. sim11 audits the ANN index against
# brute-force ground truth; this is the dedup family's equivalent for
# the LSH banding (dd03/dd04): banding is a RECALL device (P[candidate] =
# 1-(1-J^r)^b), and an un-audited index silently under-recalls when its
# band/row geometry drifts from the corpus's similarity profile. The
# synthetic corpus has no true near-dup pairs to audit against, so a
# bounded stratum derives an orig+mutant corpus PER ROW (the injection
# device): each stratum doc spawns itself (id*2) and a mutant (id*2+1)
# with every 5th token dropped — a known-similarity pair at every scale.
# Ground truth = exact 3-gram-shingle Jaccard on ALL stratum pairs
# (the SAME feature set the MinHash signatures summarize, so the audit
# measures the INDEX, not a feature mismatch); threshold is the
# integer-rearranged inter*5 >= union (J >= 0.2). dd17 (band geometries)
# and dd25 (simhash Hamming thresholds) score other candidate
# generators against the same pairs and the same confusion matrix.
DD16_STRATUM = 60  # stratum docs; derived corpus = 2x, pairs = C(120,2)
DD16_DROP_EVERY = 5  # mutant drops every 5th token
# missed_pair_checksum encodes a pair as da*10000 + db over derived ids
# < 2*DD16_STRATUM; the multiplier must dominate the id range or the
# encoding collides and the checksum goes silently ambiguous.
assert 2 * DD16_STRATUM <= 10_000, "dd16 checksum multiplier would collide"

# DuckDB fragments shared by the dd16/dd17/dd25 oracles, so the audit
# population, its ground truth and the confusion matrix cannot drift
# between them: the derived-stratum CTEs (stratum → derived → sh) ...
_DUCK_DD16_DERIVED = f"""stratum AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {DD16_STRATUM}
    ),
    derived AS (
        SELECT doc_id * 2 AS doc_id, text FROM stratum
        UNION ALL
        SELECT doc_id * 2 + 1 AS doc_id,
               array_to_string(list_transform(
                   list_filter(generate_series(1, len(t)),
                               i -> i % {DD16_DROP_EVERY} != 0),
                   i -> t[i]), ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM stratum)
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(t) - 2),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM derived)
        WHERE len(t) >= 3
    )"""
# ... the ground-truth pair relation (twin of _dd16_pairs) ...
_DUCK_DD16_PAIRS = """pairs AS (
        SELECT da, db, inter, un, inter * 5 >= un AS is_dup
        FROM (
            SELECT a.doc_id AS da, b.doc_id AS db,
                   len(list_intersect(a.sh, b.sh))::BIGINT AS inter,
                   (len(a.sh) + len(b.sh)
                    - len(list_intersect(a.sh, b.sh)))::BIGINT AS un
            FROM sh a JOIN sh b ON b.doc_id > a.doc_id
        )
    )"""
# ... and the confusion-matrix select list over (da, db, is_dup,
# is_cand) rows (twin of _dd16_confusion)
_DUCK_DD16_CONFUSION = """COUNT(CASE WHEN is_dup THEN 1 END)::BIGINT AS n_true_dups,
           COUNT(CASE WHEN is_cand THEN 1 END)::BIGINT AS n_candidates,
           COUNT(CASE WHEN is_dup AND is_cand THEN 1 END)::BIGINT
               AS n_true_positives,
           COUNT(CASE WHEN is_dup AND NOT is_cand THEN 1 END)::BIGINT
               AS n_false_negatives,
           COUNT(CASE WHEN is_cand AND NOT is_dup THEN 1 END)::BIGINT
               AS n_false_positives,
           CASE WHEN COUNT(CASE WHEN is_dup THEN 1 END) > 0
                THEN ROUND(COUNT(CASE WHEN is_dup AND is_cand THEN 1 END)
                           / COUNT(CASE WHEN is_dup THEN 1 END)::DOUBLE, 6)
                ELSE 0.0 END AS recall,
           CASE WHEN COUNT(CASE WHEN is_cand THEN 1 END) > 0
                THEN ROUND(COUNT(CASE WHEN is_dup AND is_cand THEN 1 END)
                           / COUNT(CASE WHEN is_cand THEN 1 END)::DOUBLE, 6)
                ELSE 0.0 END AS precision,
           COALESCE(SUM(CASE WHEN is_dup AND NOT is_cand
                             THEN da * 10000 + db END), 0)::BIGINT
               AS missed_pair_checksum"""


def _dd16_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dd16/dd17/dd25 derived audit corpus — fixed stratum, one orig
    + one every-5th-token-dropped mutant per doc. A fixed-size relation
    shared by three audits, so it is checkpointed eagerly once per
    (session, sf_dir): its wall lands in construction_shared_sec and the
    audits' timed regions read the checkpoint."""

    def _build() -> DataFrame:
        d = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < DD16_STRATUM)
            .select("doc_id", "text")
        )
        toks = F.split(F.col("text"), " ")
        mutant = F.array_join(
            F.transform(
                F.filter(
                    F.sequence(F.lit(1), F.size(toks)),
                    lambda i: i % DD16_DROP_EVERY != 0,
                ),
                lambda i: F.element_at(toks, i),
            ),
            " ",
        )
        return eager_checkpoint(
            d.select(
                F.explode(
                    F.array(
                        F.struct(
                            (F.col("doc_id") * 2).alias("doc_id"),
                            F.col("text").alias("text"),
                        ),
                        F.struct(
                            (F.col("doc_id") * 2 + 1).alias("doc_id"),
                            mutant.alias("text"),
                        ),
                    )
                ).alias("r")
            ).select("r.doc_id", "r.text")
        )

    from api_etl_pipeline_spark._memo import session_memo

    return session_memo(
        spark,
        ("dd16_derived", sf_dir, DD16_STRATUM, DD16_DROP_EVERY),
        _build,
        wall_label=f"dd16_derived[{os.path.basename(str(sf_dir).rstrip('/'))}]",
    )


def _dd16_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpointed full-width (N_MINHASH) signature relation over
    the derived audit corpus — byte-identical input to dd16's banding
    and dd17's geometry sweep; memoized per (session, sf_dir) like the
    corpus itself."""
    from api_etl_pipeline_spark._memo import session_memo

    # built outside the memo builder so its wall is not counted twice
    derived = _dd16_derived(spark, sf_dir)
    return session_memo(
        spark,
        ("dd16_sig", sf_dir, N_MINHASH),
        lambda: eager_checkpoint(_signatures_of(derived)),
        wall_label=f"dd16_sig[{os.path.basename(str(sf_dir).rstrip('/'))}]",
    )


def _dd16_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every derived-stratum pair (da < db) with its exact shingle-set
    intersection `inter`, union `un` and ground truth `is_dup`
    (J >= 0.2 as the integer test inter*5 >= un). The pair lattice is an
    id-sequence explode over the dense derived ids, so every join is an
    equi-join, never a cartesian, and the relation is C(2·DD16_STRATUM,
    2) rows at any corpus size."""
    n_derived = 2 * DD16_STRATUM
    derived = _dd16_derived(spark, sf_dir)
    dtoks = derived.select("doc_id", F.split("text", " ").alias("toks"))
    sh = dtoks.select(
        "doc_id", F.array_distinct(_shingles(F.col("toks"))).alias("sh")
    )
    lattice = (
        derived.select(F.col("doc_id").alias("da"))
        .filter(F.col("da") < n_derived - 1)
        .select(
            "da",
            F.explode(
                F.sequence(F.col("da") + 1, F.lit(n_derived - 1))
            ).alias("db"),
        )
        .filter(F.col("db") > F.col("da"))
    )
    sha = sh.select(F.col("doc_id").alias("da"), F.col("sh").alias("sha"))
    shb = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb"))).cast("bigint")
    return (
        lattice.join(sha, "da")
        .join(shb, "db")
        .select(
            "da",
            "db",
            inter.alias("inter"),
            (F.size("sha") + F.size("shb")).cast("bigint").alias("szsum"),
        )
        .select(
            "da", "db", "inter", (F.col("szsum") - F.col("inter")).alias("un")
        )
        .withColumn("is_dup", F.col("inter") * 5 >= F.col("un"))
    )


def _dd16_confusion() -> list[Column]:
    """The confusion-matrix aggregate over (da, db, is_dup, is_cand)
    rows, n_true_dups … missed_pair_checksum. Recall and precision are
    each ONE division of exact bigint counts (never a float SUM), 0.0
    when the divisor is 0 — ANSI mode raises on a zero divisor, and a
    stratum with no true duplicate or no candidate is a valid input."""
    is_dup, is_cand = F.col("is_dup"), F.col("is_cand")
    tp = F.count(F.when(is_dup & is_cand, 1))
    n_true = F.count(F.when(is_dup, 1))
    n_cand = F.count(F.when(is_cand, 1))
    return [
        n_true.alias("n_true_dups"),
        n_cand.alias("n_candidates"),
        tp.alias("n_true_positives"),
        F.count(F.when(is_dup & ~is_cand, 1)).alias("n_false_negatives"),
        F.count(F.when(is_cand & ~is_dup, 1)).alias("n_false_positives"),
        F.when(n_true > 0, F.round(tp / n_true, 6))
        .otherwise(F.lit(0.0))
        .alias("recall"),
        F.when(n_cand > 0, F.round(tp / n_cand, 6))
        .otherwise(F.lit(0.0))
        .alias("precision"),
        F.coalesce(
            F.sum(F.when(is_dup & ~is_cand, F.col("da") * 10000 + F.col("db"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("missed_pair_checksum"),
    ]


@query(
    "dd16_lsh_recall_audit",
    oracle=f"""
    WITH {_DUCK_DD16_DERIVED},
    {_DUCK_DD16_PAIRS},
    sig AS ({{SIG}}),
    bands AS ({{BANDS}}),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT p.*,
               ({" + ".join(f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH))})::BIGINT
                   AS agree,
               c.da IS NOT NULL AS is_cand
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.da
        JOIN sig sb ON sb.doc_id = p.db
        LEFT JOIN cand c ON c.da = p.da AND c.db = p.db
    )
    SELECT (SELECT COUNT(*) FROM derived)::BIGINT AS n_docs,
           COUNT(*)::BIGINT AS n_pairs,
           {_DUCK_DD16_CONFUSION},
           SUM(ABS(agree * un - {N_MINHASH} * inter))::BIGINT AS est_err_num,
           ({N_MINHASH} * SUM(un))::BIGINT AS est_err_den
    FROM scored
    """.replace("{SIG}", _duck_sig_from("derived")).replace(
        "{BANDS}", _duck_bands_from("sig")
    ),
)
def dd16_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the dd04 LSH banding against exact
    shingle-Jaccard ground truth on a bounded derived stratum — the
    dedup family's sim11. Emits one row: derived-corpus size, pair
    population, the confusion matrix (_dd16_confusion), the MinHash
    estimation error as an exact integer fraction (Σ|agree·union −
    N_MINHASH·inter| over N_MINHASH·Σunion — the result hash pins the
    estimator's calibration without summing floats), and a checksum of
    the exact MISSED pairs (which false negatives, not just how many).
    It is the standing instrument that proves whether a geometry change
    bought the recall it promised; dd17 measures the geometry ladder.

    Plan shape: the derived corpus and its signatures are bounded
    (2·DD16_STRATUM rows) and checkpointed once; ALL joins are
    equi-joins or the dd04 bucket self-join. At production scale the
    stratum stays FIXED-size while the index grows, so the audit is
    O(stratum²) regardless of corpus size — run it per ingest batch as
    a canary."""
    from api_etl_pipeline_spark._memo import session_memo

    n_docs = session_memo(
        spark, ("dd16_n_docs", sf_dir), _dd16_derived(spark, sf_dir).count
    )
    sig = _dd16_sig(spark, sf_dir)
    bands = _lsh_bands(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
        .withColumn("c", F.lit(1))
    )
    # one parse per column list / agreement sum: the per-Column forms
    # cost ~1,000 py4j round trips per construction
    siga = sig.selectExpr(
        "doc_id as da", *[f"mh{i} as a{i}" for i in range(N_MINHASH)]
    )
    sigb = sig.selectExpr(
        "doc_id as db", *[f"mh{i} as b{i}" for i in range(N_MINHASH)]
    )
    agree = F.expr(
        "cast(0 + "
        + " + ".join(
            f"(case when a{i} = b{i} then 1 else 0 end)"
            for i in range(N_MINHASH)
        )
        + " as bigint)"
    )
    scored = (
        _dd16_pairs(spark, sf_dir)
        .join(siga, "da")
        .join(sigb, "db")
        .join(cand, ["da", "db"], "left")
        .select(
            "da",
            "db",
            "inter",
            "un",
            "is_dup",
            agree.alias("agree"),
            F.col("c").isNotNull().alias("is_cand"),
        )
    )
    *counts, checksum = _dd16_confusion()
    return scored.agg(
        F.lit(n_docs).cast("bigint").alias("n_docs"),
        F.count("*").alias("n_pairs"),
        *counts,
        F.sum(F.abs(F.col("agree") * F.col("un") - N_MINHASH * F.col("inter")))
        .cast("bigint")
        .alias("est_err_num"),
        (N_MINHASH * F.sum("un")).cast("bigint").alias("est_err_den"),
        checksum,
    )


# dd17 — LSH band-geometry sweep, measured by dd16's instrument: the
# same derived stratum and the same exact-Jaccard ground truth score six
# geometries side by side — the retired b2r2 contrast (4 hashes), b4r2 /
# b2r4 (8 hashes: more-bands vs longer-bands directions), b8r4 (32
# hashes in 8 long bands: the high-threshold shape, τ ≈ (1/8)^(1/4) ≈
# 0.59 — precision at the cost of recall at the audit's J band), b16r2
# (the half-width intermediate), and b32r2 — the PRODUCTION geometry,
# whose buckets are byte-identical to dd04/dd16's. Every geometry takes
# contiguous hash slices (band i = hashes [i*r, (i+1)*r)), so shorter
# geometries' band sets are prefixes of longer same-r ones and the
# superset relations (b2r2 ⊂ b4r2 ⊂ b16r2 ⊂ b32r2 candidates; b2r4 ⊂
# b8r4) are provable, not sampled. All 64 hashes come from the one
# signature builder (_signatures_of).
DD17_GEOMETRIES = (
    ("b2r2", 2, 2, 4),
    ("b4r2", 4, 2, 8),
    ("b2r4", 2, 4, 8),
    ("b8r4", 8, 4, 32),
    ("b16r2", 16, 2, 32),
    ("b32r2", 32, 2, 64),
)


def _dd17_duck_bands(sig: str) -> str:
    """Per-geometry band SQL over the full N_MINHASH(=64)-hash
    signature relation (each geometry consumes its leading b*r
    slices)."""
    parts = []
    for g, b, r, _h in DD17_GEOMETRIES:
        for i in range(b):
            cat = " || '_' || ".join(
                f"mh{i * r + j}::VARCHAR" for j in range(r)
            )
            parts.append(
                f"SELECT doc_id, '{g}' AS g, {i} AS band, md5({cat}) AS bucket FROM {sig}"
            )
    return "\n        UNION ALL ".join(parts)


@query(
    "dd17_lsh_geometry_sweep",
    oracle=f"""
    WITH {_DUCK_DD16_DERIVED},
    {_DUCK_DD16_PAIRS},
    sig_full AS ({_duck_sig_from("derived")}),
    bands AS (
        {_dd17_duck_bands("sig_full")}
    ),
    cand AS (
        SELECT DISTINCT a.g AS g, a.doc_id AS da, b.doc_id AS db
        FROM bands a JOIN bands b
          ON a.g = b.g AND a.band = b.band AND a.bucket = b.bucket
        WHERE a.doc_id < b.doc_id
    ),
    geoms AS (
        SELECT * FROM (VALUES {", ".join(f"('{g}', {b}, {r}, {h})" for g, b, r, h in DD17_GEOMETRIES)})
            v(geometry, n_bands, n_rows, n_hashes)
    ),
    scored AS (
        SELECT geometry, n_bands::BIGINT AS n_bands, n_rows::BIGINT AS n_rows,
               n_hashes::BIGINT AS n_hashes,
               p.da, p.db, p.is_dup,
               c.da IS NOT NULL AS is_cand
        FROM pairs p CROSS JOIN geoms
        LEFT JOIN cand c ON c.g = geometry AND c.da = p.da AND c.db = p.db
    )
    SELECT geometry, n_bands, n_rows, n_hashes,
           {_DUCK_DD16_CONFUSION}
    FROM scored
    GROUP BY 1, 2, 3, 4
    """,
)
def dd17_lsh_geometry_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-geometry sweep over dd16's audit stratum: the production
    b32r2 geometry (buckets byte-identical to dd04/dd16's), the retired
    b2r2 contrast, the two 8-hash intermediates (b4r2 = more bands →
    recall, b2r4 = longer bands → precision) and the 32-hash
    b8r4/b16r2 ladder steps, each scored against the identical
    exact-Jaccard ground truth. One row per geometry with dd16's
    confusion matrix — the measured trade-off curve the band-math
    formula only predicts.

    Plan shape: the shared derived-corpus and full-width signature
    checkpoints, a per-geometry bucket self-join keyed on (geometry,
    band, bucket), and the dd16 pair lattice crossed with the 6-row
    geometry literal (broadcast BNLJ). Fixed stratum —
    corpus-size-independent like dd16."""
    sig_full = _dd16_sig(spark, sf_dir)
    # one SQL parse for the whole per-geometry band lattice: the
    # per-Column form built ~64 struct/bucket trees through py4j on
    # every construction
    band_structs = ", ".join(
        f"struct('{_sql_safe(g)}' as g, {i} as band, "
        f"{_bucket_sql([f'mh{i * r + j}' for j in range(r)])} as bucket)"
        for g, b, r, _h in DD17_GEOMETRIES
        for i in range(b)
    )
    bands = sig_full.selectExpr(
        "doc_id", f"explode(array({band_structs})) as bb"
    ).select("doc_id", "bb.g", "bb.band", "bb.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.g").alias("g"),
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
        )
        .distinct()
        .withColumn("c", F.lit(1))
    )
    pairs = _dd16_pairs(spark, sf_dir)
    geoms = spark.createDataFrame(
        list(DD17_GEOMETRIES), "geometry string, n_bands int, n_rows int, n_hashes int"
    ).select(
        "geometry",
        F.col("n_bands").cast("bigint").alias("n_bands"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_hashes").cast("bigint").alias("n_hashes"),
    )
    scored = (
        pairs.crossJoin(F.broadcast(geoms))
        .join(
            cand,
            (F.col("g") == F.col("geometry"))
            & (cand["da"] == pairs["da"])
            & (cand["db"] == pairs["db"]),
            "left",
        )
        .select(
            "geometry",
            "n_bands",
            "n_rows",
            "n_hashes",
            pairs["da"].alias("da"),
            pairs["db"].alias("db"),
            "is_dup",
            F.col("c").isNotNull().alias("is_cand"),
        )
    )
    return scored.groupBy("geometry", "n_bands", "n_rows", "n_hashes").agg(
        *_dd16_confusion()
    )


# dd25 — simhash-Hamming recall audit: the dd06/dd07 simhash path's
# ground-truth recall instrument, on dd16's derived stratum and exact
# shingle-Jaccard ground truth (so the two instruments' recall numbers
# are directly comparable), swept over Hamming thresholds 0..4 the way
# dd17 sweeps band geometries — the threshold IS simhash's only
# geometry knob.
DD25_MAX_HAMMING = 5  # thresholds swept: 0..DD25_MAX_HAMMING-1


@query(
    "dd25_simhash_recall_audit",
    oracle=f"""
    WITH {_DUCK_DD16_DERIVED},
    {_DUCK_DD16_PAIRS},
    shash AS ({_duck_simhash_from("derived")}),
    thresholds AS (
        SELECT unnest(generate_series(0, {DD25_MAX_HAMMING - 1}))
            AS threshold
    ),
    scored AS (
        SELECT t.threshold, p.da, p.db, p.is_dup,
               bit_count(xor(ha.simhash, hb.simhash)) <= t.threshold
                   AS is_cand
        FROM pairs p
        JOIN shash ha ON ha.doc_id = p.da
        JOIN shash hb ON hb.doc_id = p.db
        CROSS JOIN thresholds t
    )
    SELECT threshold::BIGINT AS hamming_threshold,
           COUNT(*)::BIGINT AS n_pairs,
           {_DUCK_DD16_CONFUSION}
    FROM scored
    GROUP BY 1
    """,
)
def dd25_simhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the dd06/dd07 simhash-Hamming near-dup
    path against exact shingle-Jaccard ground truth — the dedup
    family's third measured-recall instrument (dd16 = MinHash-LSH,
    sim11 = ANN index, dd25 = simhash). One row per Hamming threshold
    0..4 (dd07 ships ≤3): pair population plus dd16's confusion matrix,
    whose missed-pair checksum pins WHICH pairs each threshold misses.
    Ground truth is IDENTICAL to dd16's (same stratum, same
    inter·5 ≥ union rule), so the two instruments read on one scale.

    Plan shape: bounded derived corpus, ONE simhash build over it
    (dd06's exact recipe via the shared parameterized builder), the
    dd16 pair lattice, and the 5-row threshold literal crossed in via
    broadcast BNLJ. Fixed stratum — corpus-size-independent like dd16;
    run per ingest batch as a canary."""
    from api_etl_pipeline_spark._memo import session_memo

    derived = _dd16_derived(spark, sf_dir)
    shash = session_memo(
        spark,
        ("dd25_simhash", sf_dir),
        lambda: eager_checkpoint(_simhash_of(derived)),
        wall_label=f"dd25_simhash[{os.path.basename(str(sf_dir).rstrip('/'))}]",
    )
    ha = shash.select(F.col("doc_id").alias("da"), F.col("simhash").alias("hash_a"))
    hb = shash.select(F.col("doc_id").alias("db"), F.col("simhash").alias("hash_b"))
    hamming = F.bit_count(
        F.col("hash_a").bitwiseXOR(F.col("hash_b"))
    ).cast("bigint")
    pairs = (
        _dd16_pairs(spark, sf_dir)
        .join(ha, "da")
        .join(hb, "db")
        .select("da", "db", "is_dup", hamming.alias("hamming"))
    )
    thr = spark.range(DD25_MAX_HAMMING).select(
        F.col("id").cast("bigint").alias("hamming_threshold")
    )
    scored = pairs.crossJoin(F.broadcast(thr)).withColumn(
        "is_cand", F.col("hamming") <= F.col("hamming_threshold")
    )
    return scored.groupBy("hamming_threshold").agg(
        F.count("*").alias("n_pairs"), *_dd16_confusion()
    )


# ---------------------------------------------------------------------------
# dd18: exact-threshold Jaccard similarity join via prefix filtering
# ---------------------------------------------------------------------------
# The AllPairs/PPJoin family: LSH's EXACT complement. dd04's banding is
# probabilistic (dd16 measured the shipped geometry at 0.18 recall);
# prefix filtering guarantees NO false negatives at the threshold — if
# J(x, y) >= t, x and y MUST share a token among each one's first
# |x| - ceil(t|x|) + 1 tokens under any single global token order
# (pigeonhole on the rarest-first order), so candidates sharing a
# prefix token are a guaranteed superset and exact verification prunes.
DD18_T_NUM, DD18_T_DEN = 1, 2  # threshold t = 1/2, kept RATIONAL so the
# verify step is the exact integer comparison den*inter >= num*union

# r15 size dispatch for the prefix-index self-join (r14 verdict item 5,
# guide §3.1): below this on-disk corpus size the materialized prefix
# index is explicitly broadcast (the static planner sees only an RDD
# scan with unknown stats after the checkpoint, so it would plan SMJ);
# above it the equi-join shuffles on the shingle key and AQE may still
# flip to broadcast from the actual exchange sizes at runtime. The
# dispatch reads file metadata only — no extra Spark job. Threshold
# measured, not guessed: at 4 MB the sf0.1 bench corpus (676 KB)
# broadcasts while the 10x probe's verbatim-clone corpus (5.3 MB
# compressed, every shingle df>=10 so the prefix index is HUGE) takes
# the shuffle arm — a 64 MB first cut forced the broadcast there and
# measured 8.8 s vs 5.0 s for the shuffle form (compressed corpus bytes
# under-estimate prefix size exactly when duplication is extreme, so
# the bound stays conservative).
DD18_BCAST_MAX_BYTES = 4 << 20


def _corpus_bytes(sf_dir: str) -> int:
    """On-disk bytes of the documents table (file or directory); huge
    sentinel when unknowable (catalog: scheme, missing path) so the
    dispatch degrades to the scale arm, never the broadcast arm."""
    import pathlib

    p = pathlib.Path(str(sf_dir)) / "documents.parquet"
    try:
        if p.is_file():
            return p.stat().st_size
        if p.is_dir():
            return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
    except OSError:
        pass
    return 1 << 62


@query(
    "dd18_prefix_filter_join",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2]
                   || ' ' || tokens[i + 3] || ' ' || tokens[i + 4] AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens
              FROM documents),
             UNNEST(generate_series(1, len(tokens) - 4)) AS u(i)
        WHERE len(tokens) >= 5
    ),
    df AS (SELECT shingle, COUNT(*)::BIGINT AS df FROM sh GROUP BY shingle),
    shr AS (
        SELECT sh.doc_id, sh.shingle, f.df
        FROM sh JOIN df f USING (shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM sh GROUP BY doc_id),
    pref AS (
        -- df = 1 shingles can never match another doc's prefix: drop
        -- them AFTER the positional cut (most 5-grams are unique, so
        -- this empties most of the candidate join's input)
        SELECT doc_id, shingle FROM (
            SELECT s.doc_id, s.shingle, s.df,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.doc_id
                       ORDER BY s.df ASC, s.shingle ASC) AS pos,
                   z.n
            FROM shr s JOIN sizes z USING (doc_id)
        )
        WHERE pos <= n - (({DD18_T_NUM} * n + {DD18_T_DEN} - 1)
                          // {DD18_T_DEN}) + 1
          AND df >= 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*)::BIGINT AS inter_n
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           za.n AS n_a, zb.n AS n_b, i.inter_n,
           (za.n + zb.n - i.inter_n)::BIGINT AS union_n,
           ROUND(i.inter_n::DOUBLE / (za.n + zb.n - i.inter_n), 6)
               AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE {DD18_T_DEN} * i.inter_n
          >= {DD18_T_NUM} * (za.n + zb.n - i.inter_n)
    """,
)
def dd18_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-threshold Jaccard similarity join over 5-GRAM shingle sets
    via prefix filtering (AllPairs/PPJoin): every pair with
    J >= {DD18_T_NUM}/{DD18_T_DEN}, guaranteed complete — the exact
    complement to dd04's probabilistic LSH banding (which dd16 measured
    at 0.18 recall on the shipped geometry). The theorem: under the
    global rarest-first token order, J(x,y) >= t forces a shared token
    within each side's first |x| - ceil(t·|x|) + 1 tokens (pigeonhole:
    missing all of them caps the intersection below t·union), so the
    prefix-token equi-join yields a guaranteed candidate SUPERSET and
    exact counting prunes it. Completeness is pytest-pinned against a
    brute-force all-pairs Python replay.

    Exact-arithmetic discipline: the threshold is a RATIONAL
    ({DD18_T_NUM}/{DD18_T_DEN}), so prefix length uses integer ceiling
    division and the verify predicate is den·inter >= num·union — no
    float ever decides membership; `jaccard` ships as one ROUND(6)
    display division.

    Plan shape: ONE corpus scan into the distinct (doc, shingle)
    relation, checkpointed (it feeds frequency counting, prefix cut,
    and both verification sides). The global order is the LEXICOGRAPHIC
    (df, shingle) key itself — any total order satisfies the theorem,
    so NO global rank window exists anywhere: the per-doc prefix cut
    orders by the joined df value inside each doc's partition (an
    earlier row_number formulation put a single-reducer window over
    the full shingle vocabulary — ~700k rows at sf0.1 — and dominated
    the wall). The candidate join hits only PREFIX
    tokens — rarest-first ordering puts high-df tokens outside
    prefixes, which is exactly what bounds candidates on skewed
    corpora; verification joins are candidate-bounded (the dd13
    class). At 100 TB: shingle-hash partitioning carries the prefix
    join; pairs, never documents, shuffle afterward."""
    from api_etl_pipeline_spark.checkpoint import lazy_checkpoint

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    shingles = F.when(
        F.size(toks) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 4),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
                F.element_at(toks, i + 4),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = lazy_checkpoint(
        d.select("doc_id", F.explode(shingles).alias("shingle")).distinct()
    )
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    shr = sh.join(df, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    p_cut = F.col("n") - F.expr(
        f"({DD18_T_NUM} * n + {DD18_T_DEN - 1}) div {DD18_T_DEN}"
    ) + 1
    # r15 (verdict item 5): the prefix index feeds BOTH sides of the
    # candidate self-join, and the window pipeline that builds it
    # (df join + sizes join + per-doc rank) was planned TWICE — one full
    # copy per join side (AQE reuses the identical exchanges underneath,
    # but the rank window and its joins re-ran per side). Checkpoint it
    # once; both sides read the materialized prefix rows.
    pref = lazy_checkpoint(
        shr.join(sizes, "doc_id")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("df").asc(), F.col("shingle").asc()
                )
            ),
        )
        .filter((F.col("pos") <= p_cut) & (F.col("df") >= 2))
        .select("doc_id", "shingle")
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = pref.select(F.col("doc_id").alias("doc_b"), "shingle")
    if _corpus_bytes(sf_dir) <= DD18_BCAST_MAX_BYTES:
        b = F.broadcast(b)
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    y = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(x, "doc_a")
        .join(y, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter_n"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    union_n = F.col("n_a") + F.col("n_b") - F.col("inter_n")
    return (
        inter.join(F.broadcast(za), "doc_a")
        .join(F.broadcast(zb), "doc_b")
        .filter(DD18_T_DEN * F.col("inter_n") >= DD18_T_NUM * union_n)
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "inter_n",
            union_n.cast("bigint").alias("union_n"),
            F.round(F.col("inter_n").cast("double") / union_n, 6).alias(
                "jaccard"
            ),
        )
    )


# dd19 — span-level exact dedup: C4's three-sentence rule (round-9
# verdict task 7). C4 (Raffel et al. 2020, §2.2) discards "all but one
# of any three-sentence span occurring more than once in the data set";
# the dedup family had the doc- (dd01), segment- (dd12) and substring-
# (dd11) granularities but not this classic corpus rule. The synthetic
# corpus has NO punctuation, so "sentence" here is a fixed block of
# DD19_SENT_WORDS consecutive words (production swaps the splitter for
# a punctuation regex — every downstream stage is identical), and a
# span is 3 CONSECUTIVE sentences, i.e. a contiguous 3*W-word window at
# sentence stride. Duplicate spans are INJECTED by construction (the
# dd16 derived-corpus device — the raw synthetic corpus has no exact
# 30-word repeats, which would degenerate the differential check):
#   branch A (doc_id+1e6, originals < DD19_INJECT_A): the 60% word
#     prefix — replicas whose aligned leading spans duplicate the
#     original's and whose truncated tail block does not;
#   branch B (doc_id+2e6, originals in [INJECT_A, INJECT_B)): the full
#     original plus 25 doc-unique suffix words — replicas whose leading
#     spans duplicate and whose tail spans are novel, exercising
#     PARTIAL sentence removal within one document.
# Keep-first is the global (doc_id, span_idx) order, so originals always
# win. A sentence is removed iff ANY of the (up to three) spans covering
# it is a non-first duplicate — exactly C4's removal footprint.
DD19_SENT_WORDS = 10
DD19_INJECT_A = 50
DD19_INJECT_B = 100
_DD19_A_OFF = 1_000_000
_DD19_B_OFF = 2_000_000


def _dd19_oracle() -> str:
    W, A, B = DD19_SENT_WORDS, DD19_INJECT_A, DD19_INJECT_B
    return f"""
    WITH base AS (
        SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS words
        FROM documents
    ),
    branched AS (
        SELECT b.doc_id, b.words, u.branch
        FROM base b,
             UNNEST(list_filter(['orig',
                        CASE WHEN b.doc_id < {A} THEN 'A' END,
                        CASE WHEN b.doc_id >= {A} AND b.doc_id < {B}
                             THEN 'B' END],
                     x -> x IS NOT NULL)) AS u(branch)
    ),
    corpus AS (
        SELECT CASE branch WHEN 'orig' THEN doc_id
                           WHEN 'A' THEN doc_id + {_DD19_A_OFF}
                           ELSE doc_id + {_DD19_B_OFF} END AS doc_id,
               CASE branch
                    WHEN 'orig' THEN words
                    WHEN 'A' THEN words[1:GREATEST(1, (len(words)*3)//5)]
                    ELSE list_concat(words,
                         list_transform(range(25),
                             j -> 'zq' || CAST(doc_id AS STRING)
                                  || 'x' || CAST(j AS STRING)))
               END AS words
        FROM branched
    ),
    narrow AS (
        SELECT doc_id,
               (len(words) + {W} - 1) // {W} AS n_sent,
               list_transform(range((len(words) + {W} - 1) // {W}),
                   i -> CAST(('0x' || substr(md5(array_to_string(
                            words[i*{W}+1 : (i+1)*{W}], ' ')), 1, 12))
                        AS BIGINT)) AS sent_hash,
               list_transform(range((len(words) + {W} - 1) // {W}),
                   i -> length(array_to_string(
                            words[i*{W}+1 : (i+1)*{W}], ' '))) AS sent_len,
               list_transform(range(GREATEST(0,
                       (len(words) + {W} - 1) // {W} - 2)),
                   i -> CAST(('0x' || substr(md5(array_to_string(
                            words[i*{W}+1 : i*{W}+3*{W}], ' ')), 1, 12))
                        AS BIGINT)) AS span_hash
        FROM corpus
    ),
    spans AS (
        SELECT n.doc_id, t.u.i::BIGINT AS span_idx, t.u.h AS h,
               row_number() OVER (PARTITION BY t.u.h
                                  ORDER BY n.doc_id, t.u.i) AS rn
        FROM narrow n,
             UNNEST(list_transform(range(len(n.span_hash)),
                    i -> struct_pack(i := i, h := n.span_hash[i+1]))) AS t(u)
    ),
    dropped AS (
        SELECT doc_id, list_sort(list(span_idx)) AS didx
        FROM spans WHERE rn > 1 GROUP BY doc_id
    )
    SELECT n.doc_id,
           n.n_sent::BIGINT AS n_sentences,
           len(n.span_hash)::BIGINT AS n_spans,
           COALESCE(len(n.didx), 0)::BIGINT AS n_dropped_spans,
           len(kept)::BIGINT AS n_kept_sentences,
           COALESCE(list_sum(list_transform(kept,
               i -> n.sent_len[i+1])), 0)::BIGINT AS kept_len,
           COALESCE(list_sum(list_transform(kept,
               i -> n.sent_hash[i+1])), 0)::BIGINT AS kept_checksum
    FROM (
        SELECT n.*, d.didx,
               list_filter(range(n.n_sent),
                   i -> len(list_filter(COALESCE(d.didx, []),
                            x -> x >= i-2 AND x <= i)) = 0) AS kept
        FROM narrow n LEFT JOIN dropped d USING (doc_id)
    ) n
    """


def dd19_narrow(docs: DataFrame) -> DataFrame:
    """The stateless front of dd19, shared with its live streaming twin
    (st17): from a (doc_id, text) relation — batch OR streaming — build
    the injected derived corpus and collapse each doc to the NARROW
    per-doc relation (doc_id, n_sent, sent_hash[], sent_len[],
    span_hash[]). Pure projections/explodes, so it binds identically to
    a file-stream source."""
    W = DD19_SENT_WORDS
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " +").alias("words")
    )
    branched = d.select(
        "doc_id",
        "words",
        F.explode(
            F.filter(
                F.array(
                    F.lit("orig"),
                    F.when(F.col("doc_id") < DD19_INJECT_A, F.lit("A")),
                    F.when(
                        (F.col("doc_id") >= DD19_INJECT_A)
                        & (F.col("doc_id") < DD19_INJECT_B),
                        F.lit("B"),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("branch"),
    )
    suffix = F.transform(
        F.sequence(F.lit(0), F.lit(24)),
        lambda j: F.concat(
            F.lit("zq"),
            F.col("doc_id").cast("string"),
            F.lit("x"),
            j.cast("string"),
        ),
    )
    # two projections, NOT one: Spark resolves a higher-order-function
    # lambda's outer column reference against the POST-projection schema,
    # so a same-select `(doc_id + OFF).alias("doc_id")` silently feeds
    # the OFFSET id into the suffix lambda (caught by the oracle mirror —
    # DuckDB correctly binds the base column). Keep the words projection
    # (where the lambda runs) separate from the id-offset projection.
    corpus = branched.select(
        "doc_id",
        "branch",
        F.when(F.col("branch") == "orig", F.col("words"))
        .when(
            F.col("branch") == "A",
            F.slice(
                F.col("words"),
                1,
                F.greatest(F.lit(1), F.expr("(size(words) * 3) DIV 5").cast("int")),
            ),
        )
        .otherwise(F.concat(F.col("words"), suffix))
        .alias("words"),
    ).select(
        F.when(F.col("branch") == "orig", F.col("doc_id"))
        .when(F.col("branch") == "A", F.col("doc_id") + _DD19_A_OFF)
        .otherwise(F.col("doc_id") + _DD19_B_OFF)
        .alias("doc_id"),
        "words",
    )
    n_sent = F.expr(f"(size(words) + {W} - 1) DIV {W}")
    sent_str = lambda i: F.array_join(F.slice(F.col("words"), i * W + 1, W), " ")  # noqa: E731
    span_str = lambda i: F.array_join(F.slice(F.col("words"), i * W + 1, 3 * W), " ")  # noqa: E731
    h48 = lambda s: F.conv(  # noqa: E731
        F.substring(F.md5(s.cast("binary")), 1, 12), 16, 10
    ).cast("bigint")
    n_spans = F.greatest(F.lit(0), n_sent - 2)
    return corpus.select(
        "doc_id",
        n_sent.cast("int").alias("n_sent"),
        F.transform(
            F.sequence(F.lit(0), n_sent.cast("int") - 1),
            lambda i: h48(sent_str(i)),
        ).alias("sent_hash"),
        F.transform(
            F.sequence(F.lit(0), n_sent.cast("int") - 1),
            lambda i: F.length(sent_str(i)).cast("bigint"),
        ).alias("sent_len"),
        # sequence(0, -1) would produce a DESCENDING ramp, not an
        # empty array — guard the span list for n_sent < 3 docs
        F.when(
            n_spans > 0,
            F.transform(
                F.sequence(F.lit(0), n_spans.cast("int") - 1),
                lambda i: h48(span_str(i)),
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("span_hash"),
    )


def dd19_stats(narrow: DataFrame, dropped: DataFrame) -> DataFrame:
    """The deterministic back of dd19, shared with st17: fold the
    per-doc removal footprint (dropped: doc_id, didx sorted-idx array)
    into the kept-sentence stats via higher-order functions — C4's rule
    that a sentence dies iff any covering span is a duplicate."""
    joined = narrow.join(dropped, "doc_id", "left").withColumn(
        "kept",
        F.filter(
            F.sequence(F.lit(0), F.col("n_sent") - 1),
            lambda i: F.size(
                F.filter(
                    F.coalesce(F.col("didx"), F.array().cast("array<int>")),
                    lambda x: (x >= i - 2) & (x <= i),
                )
            )
            == 0,
        ),
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        F.col("kept"),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc + F.element_at(F.col(arr), i + 1),
    )
    return joined.select(
        "doc_id",
        F.col("n_sent").cast("bigint").alias("n_sentences"),
        F.size("span_hash").cast("bigint").alias("n_spans"),
        F.coalesce(F.size("didx"), F.lit(0)).cast("bigint").alias(
            "n_dropped_spans"
        ),
        F.size("kept").cast("bigint").alias("n_kept_sentences"),
        F.coalesce(fold("sent_len"), F.lit(0)).cast("bigint").alias("kept_len"),
        F.coalesce(fold("sent_hash"), F.lit(0)).cast("bigint").alias(
            "kept_checksum"
        ),
    )


@query("dd19_span_dedup", oracle=_dd19_oracle())
def dd19_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's three-sentence-span exact dedup over the injected derived
    corpus: per document, sentence/span counts, how many of its spans
    were non-first duplicates, the surviving sentence count, and the
    kept-TEXT evidence — total kept characters plus an order-free
    bigint checksum over the kept sentences' md5-48 hashes (the
    cur06/cur07 kept-output pattern: the hash pins WHICH text
    survived, not just how much). Keep-first under the global
    (doc_id, span_idx) order, so originals always beat their injected
    replicas; a sentence is removed iff any covering span is a
    duplicate — C4's removal footprint exactly.

    Plan shape (text never shuffles): ONE documents scan feeds the
    branch explode and collapses immediately to the NARROW per-doc
    relation (doc_id + three hash/length arrays, ≤ n_sent bigints per
    row — dd19_narrow, shared with the st17 live twin), checkpointed
    once for its two consumers. The span keep-first is a window over
    (span_hash) carrying only (doc_id, idx, hash) triples; the removal
    footprint returns as a per-doc sorted idx array (bounded by
    spans-per-doc) left-joined back to the narrow relation, where
    higher-order functions fold the kept stats JVM-side (dd19_stats).
    At 100 TB the one corpus-scale exchange is the span-hash shuffle of
    16-byte triples — the same cost class as dd01's exact hash-groupBy,
    per C4's own design; raw text never leaves its scan stage.

    Reference lineage: C4 (Raffel et al., JMLR 2020) §2.2; cross-check
    dd11 (winnowed substrings) and dd12 (segment dedup) for the
    neighboring granularities."""
    narrow = lazy_checkpoint(
        dd19_narrow(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    )
    spans = narrow.select(
        "doc_id", F.posexplode("span_hash").alias("span_idx", "h")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("h").orderBy("doc_id", "span_idx")
        ),
    )
    dropped = (
        spans.filter(F.col("rn") > 1)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("span_idx")).alias("didx"))
    )
    return dd19_stats(narrow, dropped)


# dd21 — arbitrary-offset cross-doc substring dedup (round-10 verdict
# task 5): the Lee-et-al-2022 EXACTSUBSTR rule ("Deduplicating Training
# Data Makes Language Models Better", arXiv 2107.06499 — public method)
# at the granularity the family lacked. dd01 dedups whole docs, dd12
# fixed segments, dd19 sentence-ALIGNED spans, dd11 within-doc repeats;
# the Lee rule is "any >=N-token window seen ANYWHERE before, at ANY
# offset" — suffix-array semantics, realized here (as in the paper's
# hash-based variant) as stride-1 sliding token-window hashes with a
# global keep-first, composing dd19's machinery with window stride 1
# instead of sentence alignment. N is 50 tokens in the paper; scaled to
# DD21_WIN=12 for the 10-100-word synthetic docs so the rule has bite.
#
# Duplicate substrings are INJECTED at a deliberately UNALIGNED offset
# (the dd16/dd19 derived-corpus device): for doc_id < DD21_INJECT the
# corpus gains a replica (doc_id + 3e6) of shape
#   [4 doc-unique prefix words] ++ words[OFF+1 .. OFF+CHUNK] ++
#   [4 doc-unique suffix words]
# with OFF=7 — NOT a multiple of any sentence/segment width, so dd12 and
# dd19 would both MISS these (the copied region never aligns with their
# boundaries) while the stride-1 windows catch every fully-interior one.
# Windows straddling the prefix/chunk or chunk/suffix seams contain
# doc-unique words and stay novel — partial-removal within the replica.
# A token dies iff ANY covering dropped window covers it — the paper's
# removal footprint, byte-pinned by kept-token checksums and a
# plain-Python third-engine replay (tests/test_round11_ops.py).
DD21_WIN = 12
DD21_INJECT = 60
DD21_OFF = 7
DD21_CHUNK = 30
_DD21_OFFSET_ID = 3_000_000


def _dd21_oracle() -> str:
    W, A = DD21_WIN, DD21_INJECT
    OFF, CH = DD21_OFF, DD21_CHUNK
    return f"""
    WITH base AS (
        SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS words
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, words FROM base
        UNION ALL
        SELECT doc_id + {_DD21_OFFSET_ID} AS doc_id,
               list_concat(
                   list_concat(
                       list_transform(range(4),
                           j -> 'pq' || CAST(doc_id AS STRING)
                                || 'a' || CAST(j AS STRING)),
                       words[{OFF} + 1 : {OFF} + {CH}]),
                   list_transform(range(4),
                       j -> 'pq' || CAST(doc_id AS STRING)
                            || 'b' || CAST(j AS STRING))) AS words
        FROM base WHERE doc_id < {A}
    ),
    narrow AS (
        SELECT doc_id,
               len(words) AS n_tok,
               list_transform(words,
                   w -> CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT))
                   AS tok_hash,
               list_transform(words, w -> length(w)) AS tok_len,
               list_transform(range(GREATEST(0, len(words) - {W} + 1)),
                   i -> CAST(('0x' || substr(md5(array_to_string(
                            words[i + 1 : i + {W}], ' ')), 1, 12))
                        AS BIGINT)) AS win_hash
        FROM corpus
    ),
    wins AS (
        SELECT n.doc_id, t.u.i::BIGINT AS win_idx, t.u.h AS h,
               row_number() OVER (PARTITION BY t.u.h
                                  ORDER BY n.doc_id, t.u.i) AS rn
        FROM narrow n,
             UNNEST(list_transform(range(len(n.win_hash)),
                    i -> struct_pack(i := i, h := n.win_hash[i+1]))) AS t(u)
    ),
    dropped AS (
        SELECT doc_id, list_sort(list(win_idx)) AS didx
        FROM wins WHERE rn > 1 GROUP BY doc_id
    )
    SELECT n.doc_id,
           n.n_tok::BIGINT AS n_tokens,
           len(n.win_hash)::BIGINT AS n_windows,
           COALESCE(len(n.didx), 0)::BIGINT AS n_dropped_windows,
           len(kept)::BIGINT AS n_kept_tokens,
           COALESCE(list_sum(list_transform(kept,
               t -> n.tok_len[t+1])), 0)::BIGINT AS kept_len,
           COALESCE(list_sum(list_transform(kept,
               t -> n.tok_hash[t+1])), 0)::BIGINT AS kept_checksum
    FROM (
        SELECT n.*, d.didx,
               list_filter(range(n.n_tok),
                   t -> len(list_filter(COALESCE(d.didx, []),
                            x -> x >= t - {W} + 1 AND x <= t)) = 0) AS kept
        FROM narrow n LEFT JOIN dropped d USING (doc_id)
    ) n
    """


def dd21_narrow(docs: DataFrame) -> DataFrame:
    """The stateless front of dd21: build the injected derived corpus and
    collapse each doc to the NARROW per-doc relation (doc_id, n_tok,
    tok_hash[], tok_len[], win_hash[]). Raw text dies inside this
    projection — everything downstream moves bigint arrays."""
    W = DD21_WIN
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " +").alias("words")
    )
    fake = lambda tag: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(3)),
        lambda j: F.concat(
            F.lit("pq"),
            F.col("doc_id").cast("string"),
            F.lit(tag),
            j.cast("string"),
        ),
    )
    # replica words are built in the SAME projection as the base doc_id
    # column (the dd19 lambda-binding rule: the doc_id the fake-word
    # lambdas see must be the ORIGINAL id; the +OFFSET id is applied in
    # a separate later projection)
    replicas = d.filter(F.col("doc_id") < DD21_INJECT).select(
        "doc_id",
        F.concat(
            fake("a"),
            F.slice(F.col("words"), DD21_OFF + 1, DD21_CHUNK),
            fake("b"),
        ).alias("words"),
    ).select((F.col("doc_id") + _DD21_OFFSET_ID).alias("doc_id"), "words")
    corpus = d.unionByName(replicas)
    h48 = lambda s: F.conv(  # noqa: E731
        F.substring(F.md5(s.cast("binary")), 1, 12), 16, 10
    ).cast("bigint")
    n_tok = F.size("words")
    n_win = F.greatest(F.lit(0), n_tok - W + 1)
    win_str = lambda i: F.array_join(F.slice(F.col("words"), i + 1, W), " ")  # noqa: E731
    return corpus.select(
        "doc_id",
        n_tok.cast("int").alias("n_tok"),
        F.transform(F.col("words"), lambda w: h48(w)).alias("tok_hash"),
        F.transform(F.col("words"), lambda w: F.length(w).cast("bigint")).alias(
            "tok_len"
        ),
        # sequence(0, -1) produces a DESCENDING ramp, not an empty array —
        # guard the window list for docs shorter than one window (dd19's rule)
        F.when(
            n_win > 0,
            F.transform(
                F.sequence(F.lit(0), n_win.cast("int") - 1),
                lambda i: h48(win_str(i)),
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("win_hash"),
    )


@query("dd21_substring_dedup", oracle=_dd21_oracle())
def dd21_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc arbitrary-offset exact-substring dedup (Lee et al. 2022
    semantics — see the block comment above): any DD21_WIN-token window
    occurring anywhere earlier in the global (doc_id, win_idx) order is
    a duplicate; a token is removed iff any covering window is a
    non-first duplicate. Per document: token/window counts, dropped
    windows, surviving tokens, and the kept-TEXT evidence — total kept
    characters plus an order-free bigint checksum over the kept tokens'
    md5-48 hashes (dd19's kept-output pattern: the checksum pins WHICH
    text survived).

    Plan shape (text never shuffles — dd19's cost model at stride 1):
    ONE documents scan feeds the replica injection and collapses
    immediately to the narrow per-doc relation (dd21_narrow,
    checkpointed once for its two consumers). The stride-1 keep-first
    is a window over (win_hash) carrying only (doc_id, idx, hash)
    triples; the removal footprint returns as a per-doc sorted idx
    array left-joined back to the narrow relation, where higher-order
    functions fold the kept stats JVM-side. At 100 TB the one
    corpus-scale exchange moves 16-byte triples at W× the dd19 volume
    (stride 1 vs sentence stride — the paper's own cost model: the
    suffix-array/window pass is linear in total tokens); raw text
    never leaves its scan stage.

    Reference lineage: Lee et al. 2022 §4 (EXACTSUBSTR); cross-check
    dd19 (sentence-aligned spans), dd12 (fixed segments), dd11
    (within-doc winnowed repeats) for the neighboring granularities."""
    W = DD21_WIN
    narrow = lazy_checkpoint(
        dd21_narrow(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    )
    wins = narrow.select(
        "doc_id", F.posexplode("win_hash").alias("win_idx", "h")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("h").orderBy("doc_id", "win_idx")
        ),
    )
    dropped = (
        wins.filter(F.col("rn") > 1)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("win_idx")).alias("didx"))
    )
    joined = narrow.join(dropped, "doc_id", "left").withColumn(
        "kept",
        F.filter(
            F.sequence(F.lit(0), F.col("n_tok") - 1),
            lambda t: F.size(
                F.filter(
                    F.coalesce(F.col("didx"), F.array().cast("array<int>")),
                    lambda x: (x >= t - W + 1) & (x <= t),
                )
            )
            == 0,
        ),
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        F.col("kept"),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.element_at(F.col(arr), t + 1),
    )
    return joined.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tokens"),
        F.size("win_hash").cast("bigint").alias("n_windows"),
        F.coalesce(F.size("didx"), F.lit(0)).cast("bigint").alias(
            "n_dropped_windows"
        ),
        F.size("kept").cast("bigint").alias("n_kept_tokens"),
        F.coalesce(fold("tok_len"), F.lit(0)).cast("bigint").alias("kept_len"),
        F.coalesce(fold("tok_hash"), F.lit(0)).cast("bigint").alias(
            "kept_checksum"
        ),
    )
