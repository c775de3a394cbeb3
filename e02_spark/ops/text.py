"""Text-analysis operators over the documents table.

Built from JVM-side primitives (split/explode/md5/groupBy), except the
word n-gram operators — `shingles`, `ngram_occurrences` and
`repetition_metrics` — which each work row-locally in one Python
`mapInArrow` crossing (see _grams_arrow); their pure-JVM forms stay as the
pinned `*_jvm` twins. Hash functions are md5-hex (identical output in Spark
and DuckDB), so every fingerprint/minhash/simhash is oracle-checkable.

Scale notes: token/shingle explosion is linear in corpus size and shuffles
on high-cardinality keys (token, shingle) — the standard inverted-index
build. Stopword/lexicon tables are broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["a", "the"]


def tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, token) — one row per token occurrence (order-preserving)."""
    return documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )


def _grams_arrow(
    documents: DataFrame,
    n: int,
    keep_cols: tuple[str, ...],
    distinct_per_doc: bool,
    out_col: str,
) -> DataFrame:
    """Zero-exchange word n-grams via ONE narrow mapInArrow crossing.

    Grams are a strictly per-row (per-document) function of `text`, so no
    shuffle is fundamentally required to produce them — yet the previous
    posexplode+lead window form shuffled and sorted EVERY TOKEN OCCURRENCE
    by doc_id just to line tokens up for lead() (its one exchange was the
    single hottest data-path stage at 10x sf0.1: ~26 s of the near-dup
    pipelines' wall, guide §2.4/§8). Here each Arrow batch is processed
    where it sits: split on the same literal-space rule as F.split(text,
    " ") (Java regex " " with limit -1 == str.split(' '), trailing/
    leading/consecutive-space empties preserved), grams exist only where
    all n tokens exist (sub-n-token and NULL-text docs yield 0 grams),
    and per-doc dedup — when asked — is a first-occurrence-ordered set,
    byte-identical to the old distinct() because (doc_id, shingle)
    dedup never crosses documents. Downstream per-doc aggregations
    (minhash/simhash/tf) still partial-aggregate map-side, so the
    exchange they pay is O(docs), not O(gram occurrences) — strictly
    fewer bytes than before at every scale. Bit-equality with the JVM
    reference form is pinned by tests/test_text_arrow.py over
    adversarial token shapes.

    The per-gram work is a Python loop, but it replaces a JVM sort
    shuffle, not codegen arithmetic: ' '.join over list slices runs at
    C speed and the whole crossing ships exactly (doc_id, *keep_cols,
    text) in and compact gram rows out (guide §4.2)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StringType, StructField, StructType

    src = documents.select("doc_id", *keep_cols, "text")
    out_schema = StructType(
        [src.schema["doc_id"]]
        + [src.schema[c] for c in keep_cols]
        # non-nullable, matching the JVM reference (concat_ws never
        # yields NULL); the kernel never emits a null gram
        + [StructField(out_col, StringType(), False)]
    )
    a_schema = to_arrow_schema(out_schema)
    nn, n_keys, dd = n, 1 + len(keep_cols), distinct_per_doc

    def _gen(batches):
        for batch in batches:
            keys = [batch.column(i).to_pylist() for i in range(n_keys)]
            texts = batch.column(n_keys).to_pylist()
            out_keys: list[list] = [[] for _ in range(n_keys)]
            grams: list[str] = []
            for ri, txt in enumerate(texts):
                if txt is None:
                    continue
                toks = txt.split(" ")
                m = len(toks) - nn + 1
                if m <= 0:
                    continue
                gs = [" ".join(toks[i : i + nn]) for i in range(m)]
                if dd:
                    # first-occurrence order: deterministic output (a
                    # set's iteration order varies per process hash seed)
                    gs = list(dict.fromkeys(gs))
                grams.extend(gs)
                for ki in range(n_keys):
                    out_keys[ki].extend([keys[ki][ri]] * len(gs))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_keys[i], type=a_schema.field(i).type)
                    for i in range(n_keys)
                ]
                + [pa.array(grams, type=pa.string())],
                schema=a_schema,
            )

    return src.mapInArrow(_gen, out_schema)


def shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — DISTINCT word n-grams per document, computed
    row-locally with zero exchanges (see _grams_arrow). `shingles_jvm`
    is the pure-JVM reference implementation the equivalence test pins
    against; round-15 swapped the default after a 10x-scale profile put
    the window form's token-occurrence exchange at the top of every
    near-dup pipeline's data-path cost."""
    return _grams_arrow(documents, n, (), True, "shingle")


def shingles_jvm(documents: DataFrame, n: int = 3) -> DataFrame:
    """REFERENCE (kept for the arrow-equivalence pin): posexplode +
    lead() window form of `shingles`.

    posexplode + lead() window, NOT a transform() lambda: higher-order
    function lambdas run interpreted (outside whole-stage codegen), and
    the slice+concat per gram made shingling the single hottest step of
    every near-dup pipeline (~2.8s of q31's 3.5s at sf0.1; this form cut
    it ~4x). A gram exists only where all n tokens exist (lead(n-1) not
    null) — exactly the oracle's generate_series(1, len-2) semantics,
    including 0 grams for sub-n-token documents.

    The per-doc dedup is a plain `.distinct()` (codegen HashAggregate on
    (doc_id, shingle) with map-side partials). Round 3 used a
    collect_set/explode co-partitioned with the window's doc_id exchange
    to keep the pipeline on ONE exchange; round 5 re-measured:
    collect_set is an ObjectHashAggregate (outside codegen, array-buffer
    build per doc) costing ~1.5 s where distinct costs ~0.7 s at sf0.1,
    and the extra downstream doc_id exchange it saved moves only
    compact per-doc PARTIAL-aggregate rows (the minhash/simhash aggs all
    partial-aggregate map-side), so the one-exchange form lost end to
    end: q34 3.8→1.8 s, q31 1.8→1.4 s cold. Round 15 retired even this
    form's one exchange: grams are per-row functions, so the Arrow form
    (`shingles`) produces them with no exchange at all."""
    from pyspark.sql import Window

    toks = documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("token", i).over(w) for i in range(1, n)]
    grams = toks.select(
        "doc_id",
        F.concat_ws(" ", F.col("token"), *leads).alias("shingle"),
        leads[-1].alias("_full"),
    )
    return (
        grams.where(F.col("_full").isNotNull())
        .select("doc_id", "shingle")
        .distinct()
    )


def ngram_occurrences(documents: DataFrame, n: int, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *keep_cols, gram) — one row PER OCCURRENCE of each word
    n-gram (unlike `shingles`, which is the distinct set). Same
    zero-exchange Arrow kernel as `shingles` (occurrence order within a
    doc is source order); `ngram_occurrences_jvm` is the pinned
    reference form."""
    return _grams_arrow(documents, n, tuple(keep_cols), False, "gram")


def ngram_occurrences_jvm(documents: DataFrame, n: int, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """REFERENCE (kept for the arrow-equivalence pin): posexplode+lead
    form of ngram_occurrences — one shuffle on doc_id, stays in codegen.
    concat_ws skips NULLs, so gram existence is gated on the last lead
    explicitly — a doc with < n tokens yields 0 grams."""
    from pyspark.sql import Window

    toks = documents.select(
        "doc_id", *keep_cols, F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("token", i).over(w) for i in range(1, n)]
    grams = toks.select(
        "doc_id",
        *keep_cols,
        F.concat_ws(" ", F.col("token"), *leads).alias("gram"),
        leads[-1].alias("_full"),
    )
    return grams.where(F.col("_full").isNotNull()).select("doc_id", *keep_cols, "gram")


def duck_ngram_sql(n: int, keep_cols: tuple[str, ...] = ()) -> str:
    """DuckDB twin of ngram_occurrences as a WITH-clause body: defines
    `toks` and `grams` CTEs over `documents` (grams has doc_id, *keep_cols,
    gram). `||` propagates NULL, so the last-lead gate is just
    `gram IS NOT NULL` — mirrored explicitly for parity with concat_ws."""
    keep = "".join(f", {c}" for c in keep_cols)
    parts = " || ' ' || ".join(
        ["token"] + [f"lead(token, {i}) OVER w" for i in range(1, n)]
    )
    return f"""
toks AS (
  SELECT doc_id{keep}, generate_subscripts(string_split(text, chr(32)), 1) AS pos,
         unnest(string_split(text, chr(32))) AS token
  FROM documents
),
grams AS (
  SELECT doc_id{keep}, gram FROM (
    SELECT doc_id{keep}, {parts} AS gram
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE gram IS NOT NULL
)"""


def repetition_metrics(documents: DataFrame) -> DataFrame:
    """Gopher-style per-document repetition signals:
      dup3_frac — fraction of 3-gram occurrences that are repeats of an
                  earlier 3-gram in the same doc (1 - distinct/total);
      top2_frac — fraction of 2-gram occurrences taken by the single most
                  frequent 2-gram.
    Both are single IEEE divisions over exact integers (deterministic
    cross-engine: Python float division IS IEEE-754 double division,
    the same op Spark's double `/` compiles to, and every operand is an
    exact small integer).

    Every signal is a strictly per-document function of `text`, so the
    whole computation happens in ONE narrow mapInArrow crossing with
    ZERO exchanges and ZERO gram rows shipped (guide §2.4/§4.2): no
    3-gram explosion, no 2-gram explosion, no two doc_id aggregations,
    no m3-m2 join — the round-14 form paid all five. Docs with < 3
    tokens yield no row (the old inner join dropped them: a doc with
    trigrams always has bigrams, never vice versa). Token tuples key
    the per-doc dedup/counts — equivalent to the joined-gram strings
    because tokens cannot contain the separator. Bit-equality with the
    pure-JVM composed form (`repetition_metrics_jvm`) is pinned by
    tests/test_text_arrow.py."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    src = documents.select("doc_id", "text")
    out_schema = StructType(
        [
            src.schema["doc_id"],
            StructField("n3", LongType(), False),
            StructField("dup3_frac", DoubleType(), True),
            StructField("top2_frac", DoubleType(), True),
        ]
    )
    a_schema = to_arrow_schema(out_schema)

    def _gen(batches):
        from collections import Counter

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            o_id: list = []
            o_n3: list[int] = []
            o_d3: list[float] = []
            o_t2: list[float] = []
            for ri, txt in enumerate(texts):
                if txt is None:
                    continue
                toks = txt.split(" ")
                n3 = len(toks) - 2
                if n3 <= 0:
                    continue
                d3 = len(set(zip(toks, toks[1:], toks[2:])))
                c2 = Counter(zip(toks, toks[1:]))
                n2 = len(toks) - 1
                o_id.append(ids[ri])
                o_n3.append(n3)
                o_d3.append((n3 - d3) / n3)
                o_t2.append(max(c2.values()) / n2)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_id, type=a_schema.field(0).type),
                    pa.array(o_n3, type=pa.int64()),
                    pa.array(o_d3, type=pa.float64()),
                    pa.array(o_t2, type=pa.float64()),
                ],
                schema=a_schema,
            )

    return src.mapInArrow(_gen, out_schema)


def repetition_metrics_jvm(documents: DataFrame) -> DataFrame:
    """REFERENCE (kept for the arrow-equivalence pin): the composed
    pure-JVM form of repetition_metrics — two gram explosions
    (ngram_occurrences_jvm), two doc_id aggregations, one join."""
    g3 = ngram_occurrences_jvm(documents, 3)
    m3 = g3.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n3"),
        F.countDistinct("gram").alias("d3"),
    )
    g2 = ngram_occurrences_jvm(documents, 2)
    c2 = g2.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    m2 = c2.groupBy("doc_id").agg(
        F.max("c").alias("top2"), F.sum("c").cast("bigint").alias("n2")
    )
    return m3.join(m2, "doc_id").select(
        "doc_id",
        F.col("n3").cast("bigint").alias("n3"),
        ((F.col("n3") - F.col("d3")).cast("double") / F.col("n3")).alias("dup3_frac"),
        (F.col("top2").cast("double") / F.col("n2")).alias("top2_frac"),
    )


def minhash_signature(doc_shingles: DataFrame, k: int = 4) -> DataFrame:
    """(doc_id, h1..hk) — MinHash signature over the shingle set.

    k <= 4: one md5 per shingle, split into k disjoint 8-hex-char (32-bit)
    slices; each slice behaves as an independent hash for the
    min-permutation (standard single-hash MinHash trick — k times fewer
    digest computations than seeded re-hashing). Identical hex in both
    engines, and the form every declared query pins (oracle stability).

    k > 4: a single 128-bit digest only yields 4 independent 32-bit
    slices, so extra hashes come from SALTED digests —
    md5(concat('s<i>:', shingle)) for salt index i = slice//4 — giving
    ceil(k/4) digests per shingle and an unbounded k. This is the 100 TB
    recipe (real crawl dedup wants k≈128, b≈16); cost stays O(k/4)
    digests per shingle, all JVM-side. Salt 0 is the unsalted digest, so
    h1..h4 agree between the two forms.
    """
    aggs = []
    for s in range(1, k + 1):
        salt = (s - 1) // 4
        h = (
            F.md5(F.col("shingle"))
            if salt == 0
            else F.md5(F.concat(F.lit(f"s{salt}:"), F.col("shingle")))
        )
        offset = ((s - 1) % 4) * 8
        aggs.append(F.min(F.substring(h, 1 + offset, 8)).alias(f"h{s}"))
    return doc_shingles.groupBy("doc_id").agg(*aggs)


def duck_minhash_sql(k: int = 4) -> str:
    """DuckDB twin of minhash_signature (including the salted k > 4 form):
    SELECT-list aggregate fragments (use over a (doc_id, shingle)
    relation, GROUP BY doc_id)."""
    frags = []
    for s in range(1, k + 1):
        salt = (s - 1) // 4
        src = "md5(shingle)" if salt == 0 else f"md5('s{salt}:' || shingle)"
        frags.append(f"min(substring({src}, {1 + 8 * ((s - 1) % 4)}, 8)) AS h{s}")
    return ", ".join(frags)


def simhash32(
    doc_features: DataFrame,
    feature_col: str = "shingle",
    assume_distinct: bool = False,
) -> DataFrame:
    """(doc_id, simhash BIGINT) — 32-bit SimHash over a DISTINCT feature
    set (shingles by default — the token vocabulary of the driver corpus is
    tiny, so token-set SimHash would collide almost everywhere): bit b of
    md5(feature)'s first 8 hex nibbles votes +1/-1; the sign of each
    bit-position sum forms the fingerprint.

    assume_distinct=True skips the dedup exchange — pass it when the input
    is already a distinct set (e.g. the output of `shingles`)."""
    feats = doc_features.select("doc_id", F.col(feature_col).alias("f"))
    if not assume_distinct:
        feats = feats.distinct()
    # ONE md5 + ONE hex->int conv per feature (the digest work is
    # O(features), not O(features * bits)); bit votes via integer div by a
    # constant-folded power-of-two column, so the whole pipeline stays in
    # codegen — no pow()/locate() in any per-bit expression.
    h32 = F.conv(F.substring(F.md5(F.col("f")), 1, 8), 16, 10).cast("bigint")
    # 32 conditional sums in ONE aggregation pass: no 32x explode of the
    # feature rows, one doc_id shuffle instead of two, and every vote
    # expression is constant-folded integer math inside codegen with
    # map-side partial aggregation. (The earlier explode(bit_powers) form
    # shuffled features*32 rows through a two-level groupBy.)
    # getbit(h32, k) == (h32 >> k) & 1 for the non-negative 32-bit h32 —
    # same votes as the div/mod form but ~2x faster in codegen (measured
    # 0.36s vs 0.68s for the 32-sum agg over 260k shingles at sf0.1)
    votes = [
        F.sum(
            F.expr(f"getbit(h32, {31 - b})").cast("bigint") * 2 - 1
        ).alias(f"v{b}")
        for b in range(32)
    ]
    bit_sums = feats.withColumn("h32", h32).groupBy("doc_id").agg(*votes)
    out = F.lit(0).cast("bigint")
    for b in range(32):
        out = out + F.when(
            F.col(f"v{b}") > 0, F.lit(1 << (31 - b)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return bit_sums.select("doc_id", out.cast("bigint").alias("simhash"))


# DuckDB twin of simhash32 — expects a doc_shingles(doc_id, shingle) CTE.
DUCK_SIMHASH_SQL = """
h32s AS (
  SELECT doc_id, shingle,
    SUM(CAST(strpos('0123456789abcdef', substring(md5(shingle), i, 1)) - 1 AS BIGINT)
        * CAST(pow(16, 8 - i) AS BIGINT)) AS h32
  FROM (SELECT DISTINCT doc_id, shingle FROM doc_shingles)
  CROSS JOIN generate_series(1, 8) AS t(i)
  GROUP BY doc_id, shingle
),
per_bit AS (
  SELECT doc_id, bit,
    SUM(CASE WHEN (h32 // CAST(pow(2, 31 - bit) AS BIGINT)) % 2 = 1
        THEN 1 ELSE -1 END) AS v
  FROM h32s CROSS JOIN generate_series(0, 31) AS bt(bit)
  GROUP BY doc_id, bit
),
simhashes AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN v > 0 THEN CAST(pow(2, 31 - bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
  FROM per_bit GROUP BY doc_id
)"""


def quality_metrics(documents: DataFrame) -> DataFrame:
    """Per-doc quality signals: token counts, distinct ratio, stopword
    ratio, average token length — all exact-integer-derived doubles."""
    t = tokens(documents)
    stop = F.col("token").isin(STOPWORDS)
    agg = t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
        F.sum(F.when(stop, 1).otherwise(0)).cast("bigint").alias("n_stop"),
        F.sum(F.length("token")).cast("bigint").alias("sum_len"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias("distinct_ratio"),
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stop_ratio"),
        (F.col("sum_len").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
    )
