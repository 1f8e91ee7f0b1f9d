"""Reference-parity word-count surface (SURVEY.md §2a).

The reference pipeline is: text line scan → tokenize (flatMap) → empty-token
filter → per-thread partial hash agg → striped-lock merge (hash-partitioned
final agg) → parallel merge sort (alpha, then by count desc) → formatted
text sinks (reference src/main.cpp:78-281).

Spark-first re-expression — each stage maps to a declarative op and Catalyst
plans the physical strategy the reference hand-coded:

- text scan            → parquet/text FileScan with column pruning
- tokenizer flatMap    → ``explode(split(...))`` (generator, codegen'd)
- per-thread maps      → automatic partial aggregation before the shuffle
- striped-lock merge   → ``Exchange hashpartitioning(word)`` + final agg —
  Spark's shuffle gives disjoint per-partition state, the sound version of
  the reference's racy striped-lock global map (src/main.cpp:118-138)
- parallel merge sort  → range-partitioned ``orderBy`` (sampled boundaries);
  ``write_listings`` persists the aggregate for the duration of the call, so
  the two listing sorts read one computed map, as the reference sorts its
  one global map twice — the ``counts`` handed in stays lazy and uncached
- ``word -> count``    → ``format_string`` projection

Tokenizer parity (SURVEY.md §1, verified against the compiled reference):
a byte is a word-char iff it is an ASCII letter or ≥ 0x80 (so ALL non-ASCII
chars — including NBSP — are word chars); digits/hyphen/punct/whitespace
delimit; case-sensitive; binary collation. ``REF_DELIM_REGEX`` below is the
exact complement class over valid UTF-8. The driver's ``documents.text`` is
space-separated (FIXTURES.md §A), so oracle-checked queries split on a
single space — exact there and expressible in DuckDB ``string_split`` —
while the regex tokenizer is exercised on the adversarial fixture
(tests/test_tokenizer.py).

Scale notes: this whole family is scan → generate → partial agg → one
shuffle on ``word`` → (optional) one range exchange for the sort. No Python
in the hot path, whole-stage codegen end-to-end. Skewed hot words (stop
words) are absorbed by map-side partial aggregation — the per-partition
combine shrinks each hot key to one row per map task before the shuffle, so
no salting is needed (two-phase salted agg documented in SURVEY.md §7 if a
future workload disables partial agg).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import load_table

# Delimiter class = ASCII minus ASCII letters; everything non-ASCII is kept
# inside words (reference predicate src/main.cpp:59-64 treats every byte
# >= 0x80 as a word char, which over valid UTF-8 means every non-ASCII char).
REF_DELIM_REGEX = r"[[\x00-\x7F]&&[^a-zA-Z]]+"

# The driver's documents.text is space-separated words — a literal-space
# split is exact on it AND expressible in DuckDB (string_split).
SPACE_DELIM = " "


def tokenize(df: DataFrame, text_col: str = "text", delim: str = SPACE_DELIM) -> DataFrame:
    """flatMap a text column into one row per non-empty token.

    Reference: tokenizer loop src/main.cpp:55-75 (empty-token drop at :67,:72).
    """
    return (
        df.select(F.explode(F.split(F.col(text_col), delim)).alias("word"))
        .filter(F.col("word") != "")
    )


def tokenize_ref(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Tokenize with full reference-parity byte semantics (adversarial inputs)."""
    return tokenize(df, text_col, REF_DELIM_REGEX)


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan → tokenize → groupBy(word).count — the flagship aggregation.

    Maps the reference's map phase (src/main.cpp:42-76) + merge phase
    (src/main.cpp:118-138) onto partial agg + hash exchange + final agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    return tokenize(docs).groupBy("word").agg(F.count("*").alias("cnt"))


_WORD_COUNT_ORACLE_BODY = (
    "SELECT word, count(*) AS cnt FROM ("
    "SELECT unnest(string_split(text, ' ')) AS word FROM documents"
    ") tok WHERE word <> '' GROUP BY word"
)


@query(
    "text_scan",
    oracle="SELECT doc_id, text FROM documents",
)
def text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's only source: line scan (src/main.cpp:104-108) →
    columnar scan with pruned ReadSchema (only doc_id, text are read)."""
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


@query(
    "tokenize_explode",
    oracle=(
        "SELECT doc_id, word FROM ("
        "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"
        ") t WHERE word <> ''"
    ),
)
def tokenize_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer as a standalone generator op (reference src/main.cpp:55-75)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), SPACE_DELIM)).alias("word")
        )
        .filter(F.col("word") != "")
    )


@query("word_count", oracle=_WORD_COUNT_ORACLE_BODY)
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's entire reason to exist, as one shuffle."""
    return word_counts(spark, sf_dir)


@query(
    "word_count_alpha",
    oracle=(
        f"SELECT word, cnt, row_number() OVER (ORDER BY word) AS rk "
        f"FROM ({_WORD_COUNT_ORACLE_BODY}) wc"
    ),
)
def word_count_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A→Z listing (output.txt, reference src/main.cpp:221-234). Binary
    collation on both sides (std::string< ≡ Spark UTF8String binary order).

    The rank column materializes the order so the driver's order-insensitive
    hash still detects ordering bugs (SURVEY.md §5). Rank is computed
    distributed (range exchange + local rank + broadcast offsets — see
    operators/rank.py), never a whole-dataset single-partition window.
    """
    from .rank import global_rank

    wc = word_counts(spark, sf_dir)
    return global_rank(wc, ["word"]).select("word", "cnt", "rk")


@query(
    "sort_by_count_desc",
    oracle=(
        f"SELECT word, cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk "
        f"FROM ({_WORD_COUNT_ORACLE_BODY}) wc"
    ),
)
def sort_by_count_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High→Low listing (output2.txt, reference src/main.cpp:247-266). The
    reference leaves tie order unspecified (unstable sort cutoff,
    src/main.cpp:255-258); we standardize (cnt DESC, word ASC) so the result
    is deterministic and oracle-checkable (SURVEY.md §4). Distributed rank
    (operators/rank.py), no single-partition window."""
    from .rank import global_rank

    wc = word_counts(spark, sf_dir)
    return global_rank(wc, [F.desc("cnt"), F.asc("word")]).select(
        "word", "cnt", "rk"
    )


@query(
    "word_count_topk",
    oracle=(
        f"SELECT word, cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk "
        f"FROM ({_WORD_COUNT_ORACLE_BODY}) wc "
        f"ORDER BY cnt DESC, word LIMIT 100"
    ),
)
def word_count_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-k stand-in for output2.txt. ``orderBy().limit(k)``
    plans as TakeOrderedAndProject — per-partition top-k then a k-row merge
    on the driver, no global sort shuffle; THE scalable form of the
    reference's full frequency sort. The rank window then runs on k rows."""
    from pyspark.sql.window import Window

    top = word_counts(spark, sf_dir).orderBy(F.desc("cnt"), F.asc("word")).limit(100)
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    return top.select("word", "cnt", F.row_number().over(w).alias("rk"))


@query(
    "distinct_words",
    oracle=(
        "SELECT count(DISTINCT word) AS n_distinct FROM ("
        "SELECT unnest(string_split(text, ' ')) AS word FROM documents"
        ") t WHERE word <> ''"
    ),
)
def distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token cardinality. Planned as two-phase hash distinct; at
    scale the cheap estimate is ``approx_count_distinct`` (HLL) — exact
    kept here because the oracle is exact."""
    docs = load_table(spark, sf_dir, "documents")
    return tokenize(docs).agg(F.count_distinct("word").alias("n_distinct"))


@query(
    "format_output",
    oracle=(
        f"SELECT printf('%s -> %d', word, cnt) AS line "
        f"FROM ({_WORD_COUNT_ORACLE_BODY}) wc"
    ),
)
def format_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``word -> count`` row format of both sinks (reference
    src/main.cpp:231-233, :262-265; headers are sink cosmetics, not rows)."""
    wc = word_counts(spark, sf_dir)
    return wc.select(F.format_string("%s -> %d", "word", "cnt").alias("line"))


@query("word_count_ref_tokenizer", oracle=_WORD_COUNT_ORACLE_BODY)
def word_count_ref_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship through the FULL reference-parity byte-class tokenizer
    (REF_DELIM_REGEX) instead of the space split. On the driver corpus every
    token is pure ASCII letters (verified), so the result — and therefore
    the oracle — is identical to ``word_count``; the adversarial fixture
    suite covers the inputs where the two tokenizers differ."""
    docs = load_table(spark, sf_dir, "documents")
    return tokenize_ref(docs).groupBy("word").agg(F.count("*").alias("cnt"))


@query(
    "sort_alpha",
    oracle=(
        f"SELECT word, cnt, row_number() OVER (ORDER BY word) AS rk "
        f"FROM ({_WORD_COUNT_ORACLE_BODY}) wc"
    ),
)
def sort_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §2a row 9 inventory key — identical to ``word_count_alpha``
    (the A→Z listing with materialized rank)."""
    return word_count_alpha(spark, sf_dir)


def word_count_bulk(
    spark: SparkSession, sf_dir: str, copies: int = 512, n_parts: int = 64
) -> DataFrame:
    """Throughput configuration of the flagship: replicate the corpus
    ``copies``× (partitioned range ⋈ broadcast corpus — replication happens
    executor-side in parallel, no shuffle of replicated rows) and word-count
    the result. At copies=512 / sf0.1 this processes ~760 MB of text, the
    scale of the reference's published fiwiki benchmark (BASELINE.md:
    700 MB at 19.6 MB/s best). ``n_parts`` sets the range side's partition
    count — the decade ladder (BULK_r9) scales it with ``copies`` so
    per-task text stays ~constant (~150 MB) instead of growing 100×."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    reps = spark.range(0, copies, 1, n_parts)
    bulk = reps.join(F.broadcast(docs))
    return tokenize(bulk).groupBy("word").agg(F.count("*").alias("cnt"))


# The reference's sink header lines, byte-for-byte (src/main.cpp:231, :262).
ALPHA_HEADER = "=== Final Word Counts (A → Z) ==="
BY_COUNT_HEADER = "=== Final Word Counts (High → Low) ==="


def listing_lines(counts: DataFrame, order_cols, header: str | None) -> DataFrame:
    """One sorted ``word -> count`` listing as DataFrame[line: string],
    optionally preceded by the reference's header line. The header is a
    synthetic row with sort key 0 unioned ahead of the body (key 1): the
    range-partitioned sort places it in the first output split, so a
    distributed ``.text()`` write concatenates to exactly the reference's
    file shape — no coalesce(1) driver funnel needed."""
    line = F.format_string("%s -> %d", "word", "cnt")
    body = counts.select(
        F.lit(1).alias("_h"), "word", F.col("cnt").cast("long").alias("cnt"),
        line.alias("line"),
    )
    if header is None:
        return body.orderBy(*order_cols).select("line")
    head = counts.sparkSession.range(1).select(
        F.lit(0).alias("_h"),
        F.lit("").alias("word"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(header).alias("line"),
    )
    return head.unionByName(body).orderBy("_h", *order_cols).select("line")


def write_listings(counts: DataFrame, out_dir: str, headers: bool = True) -> None:
    """Both reference sinks from one ``word``/``cnt`` aggregate: alpha
    listing → ``alpha/``, frequency listing → ``by_count/`` (reference
    output.txt / output2.txt, src/main.cpp:226-266), including the header
    lines (src/main.cpp:231, :262) unless ``headers=False``.

    As the reference sorts its one global map twice (src/main.cpp:221-234,
    :247-266), ``counts`` is persisted for the call so the scan, tokenize
    and aggregate run once and both range sorts read the cached rows. The
    cache holds one row per distinct word, not the corpus, and is released
    before returning, so ``counts`` stays lazy and uncached. Distributed
    text write — one file per partition; a 100 TB listing never funnels
    through the driver."""
    listings = (
        ("alpha", [F.asc("word")], ALPHA_HEADER),
        ("by_count", [F.desc("cnt"), F.asc("word")], BY_COUNT_HEADER),
    )
    cached = counts.persist()
    try:
        for name, order_cols, header in listings:
            (
                listing_lines(cached, order_cols, header if headers else None)
                .write.mode("overwrite")
                .text(f"{out_dir}/{name}")
            )
    finally:
        cached.unpersist()
