"""§2.9 LLM-data-pipeline: deduplication over `documents`/`embeddings`.

Variants (BASELINE.json:6 north-star set):
- exact (hash-groupBy)           -> dedup_exact       (oracle: yes)
- MinHash + LSH banding          -> dedup_minhash     (rows-only)
- SimHash + pigeonhole banding   -> dedup_simhash     (rows-only)
- n-gram Jaccard (blocked exact) -> dedup_ngram_jaccard (oracle: yes)
- embedding cosine near-dup      -> dedup_embedding   (oracle: yes)

r5 portable twins: x_dedup_minhash_portable / x_dedup_simhash_portable
re-express both rows-only signatures with md5-hex-parsed hashes that
DuckDB reproduces bit-for-bit, so the LSH families ALSO carry full-hash
driver evidence; x_filter_bloom adds the Bloom-prefilter triage for the
incremental anti-join.

Scale story: every variant is (a) a per-doc JVM-side signature, then
(b) an equi-join on a banding/blocking key — never an unblocked O(n^2)
comparison.  AQE handles hot buckets; thresholds bound output size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.determinism import KNUTH, hex_digit_duck, hex_int, hex_int_duck, hex_int_sql
from ..functions.minhash import minhash_pairs_from_occurrences, simhash_pairs
from ..functions.text import tokens
from ..registry import query


@query(
    "dedup_exact",
    category="llm_dedup",
    oracle=(
        "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies "
        "FROM documents GROUP BY lower(trim(text))"
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text; keep the smallest doc_id."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.lower(F.trim(F.col("text"))).alias("norm"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


@query("dedup_minhash", category="llm_dedup", oracle=None)  # rows-only: LSH banding
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash-LSH over token BAGS (multisets).

    Unit choice, measured on this corpus (tiny ~31-word vocabulary,
    docs 10-100 tokens): token SETS saturate — unrelated long docs
    reach set-Jaccard 1.0, and set-J >= 0.8 holds for ~13% of ALL
    pairs (1.6M pairs from 5k docs at sf0.1), so set-LSH degenerates
    to a quadratic verify join no banding can save.  Token-order
    shingles fail the other way: near-dups here are token-shuffled, so
    shingle-J ~ 0 for true pairs.  Bag Jaccard separates cleanly:
    planted dups ~0.99, background p99.9 = 0.64 — threshold 0.8 sits
    in empty space.  ``expand_bag`` ('token#k' per k-th occurrence)
    turns the set machinery into bag semantics end-to-end, including
    the exact-Jaccard verify (expanded elements are unique per doc).

    8 bands x 16 rows (128 perms): midpoint (1/8)^(1/16) ~ 0.88;
    background (J<=0.7) passes a band at <= 0.7^16 ~ 3e-3, planted
    dups (J~0.99) at 0.99^16 ~ 0.85 per band -> recall ~100%.

    Tuning note (measured at sf0.1): 64 perms x 4 bands is 2.7x faster
    cold (the 128-accumulator aggregate's codegen compile dominates a
    fresh session) but drops 1 of 256 boundary pairs.  Compile cost
    amortizes to zero on a long-lived cluster job; recall doesn't —
    so the wide signature is the default.

    Bag expansion feeds the ROW-based core directly: the k-th
    occurrence of a token becomes the 64-bit element xxhash64(tok, k),
    produced straight from the (doc, token, count) aggregate — no
    per-doc item arrays are ever built for the full corpus (the
    collect_list stage the array formulation pays is deferred to the
    candidate set inside minhash_pairs_from_occurrences)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    ).filter(F.size("toks") > 0)
    counts = (
        docs.select(F.col("doc_id").alias("id"), F.explode("toks").alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("c"))
    )
    occ = counts.select(
        "id", "tok", F.explode(F.expr("sequence(1, c)")).alias("k")
    ).select("id", F.xxhash64("tok", "k").alias("h"))
    return minhash_pairs_from_occurrences(
        occ, n_hashes=128, n_bands=8, jaccard_threshold=0.8
    )


@query("x_dedup_simhash", category="llm_dedup", oracle=None)  # rows-only: banded fingerprint
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via 64-bit SimHash, hamming distance <= 3.

    ROWS-ONLY BY DESIGN (no `oracle=`): the fingerprint bits come from
    Spark's xxhash64, which exists in no other engine, so no DuckDB SQL
    can reproduce the pair set — a `no_oracle` entry for this key in a
    driver CORRECTNESS artifact is the intended outcome, not a gap.
    The VALUE evidence lives in the full-hash portable twin
    `x_dedup_simhash_portable` (same banding/hamming pipeline with
    engine-portable md5-derived bits, driver hash-match pass r6);
    this key stays registered because it demonstrates the PRODUCTION
    form — xxhash64 is one codegen'd JVM call per token vs the twin's
    md5-hex parse, the right trade at 100 TB where the fingerprint
    pass dominates."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    return simhash_pairs(docs, id_col="doc_id", items_col="toks", max_hamming=3)


@query(
    "x_dedup_ngram_jaccard",
    category="llm_dedup",
    oracle=(
        "WITH d AS (SELECT doc_id, lang, "
        "           list_distinct(string_split(text, ' ')) AS toks, "
        "           len(string_split(text, ' ')) AS n_toks "
        "           FROM documents) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / "
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard "
        "FROM d a JOIN d b "
        "ON a.lang = b.lang AND a.n_toks = b.n_toks AND a.doc_id < b.doc_id "
        "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / "
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8"
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard >= 0.8 between docs blocked on
    (lang, token count) — deterministic int/int division, so the oracle
    hash-matches despite the float threshold."""
    return spark.sql(
        "WITH d AS (SELECT doc_id, lang, array_distinct(split(text, ' ')) AS toks, "
        "  size(split(text, ' ')) AS n_toks FROM {docs}) "
        "SELECT id_a, id_b, jaccard FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "  CAST(size(array_intersect(a.toks, b.toks)) AS DOUBLE) / (size(a.toks) "
        "    + size(b.toks) - size(array_intersect(a.toks, b.toks))) AS jaccard "
        "  FROM d a JOIN d b "
        "  ON a.lang = b.lang AND a.n_toks = b.n_toks AND a.doc_id < b.doc_id) "
        "WHERE jaccard >= 0.8D",
        docs=load_table(spark, sf_dir, "documents"),
    )


def _ivf_pair_oracle(select: str) -> str:
    from .llm_similarity import IVF_PAIR_SQL

    return "WITH " + IVF_PAIR_SQL + " " + select


@query(
    "x_dedup_embedding",
    category="llm_dedup",
    oracle=_ivf_pair_oracle(
        "SELECT id_a, id_b, round(raw, 6) AS sim FROM epairs WHERE raw >= 0.4"
    ),
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on the TRAINED IVF
    coarse quantizer (VERDICT r10 item 2 — previously blocked on the
    10-value ``label`` column, which made within-block pair generation
    O(n²/10) at 100 TB).  Candidates come from
    :func:`..llm_similarity.ivf_candidate_pairs`: a pair qualifies iff
    either end probes the other end's home list (nprobe =
    max(7, ceil(2·sqrt(nlist))) of nlist = ceil(n/25) trained lists;
    the rule and its measurements are stated once, at
    ``llm_similarity._PAIR_PROBES_SQL``), so per-vector candidate
    fan-out is bounded by list occupancy (~25 × nprobe) at ANY corpus
    size.  Exact
    float64 rerank on survivors, sim rounded to 6 dp, raw-threshold
    0.4 — same output contract as the label-blocked original; the
    oracle computes the identical trained quantizer + probe rule in
    DuckDB (IVF_PAIR_SQL), and recall vs the unblocked all-pairs truth
    is differential-tested with a floor in tests/test_properties.py.

    Threshold 0.4 is calibrated to this corpus (max in-cluster cosine
    ~0.47): high enough to be a real near-dup cut, low enough that the
    operator produces pairs at every scale factor."""
    from .llm_similarity import ivf_candidate_pairs

    return (
        ivf_candidate_pairs(spark, sf_dir)
        .filter(F.col("raw") >= 0.4)
        .select("id_a", "id_b", F.round("raw", 6).alias("sim"))
    )


@query(
    "x_dedup_url",
    category="llm_dedup",
    oracle=(
        "WITH synth AS ("
        "  SELECT doc_id, 'https://' || "
        "  CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END || "
        "  '.example.com/' || split_part(text, ' ', 1) || "
        "  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END || "
        "  CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=x' "
        "       WHEN doc_id % 4 = 1 THEN '?ref=' || CAST(doc_id % 5 AS VARCHAR) "
        "       ELSE '' END || "
        "  CASE WHEN doc_id % 5 = 0 THEN '#section-' || CAST(doc_id % 3 AS VARCHAR) "
        "       ELSE '' END AS url FROM documents), "
        "canon AS ("
        "  SELECT doc_id, "
        "  rtrim(regexp_replace(regexp_replace(lower(url), "
        "    '#.*$', ''), '\\?utm_[a-z_]+=[^&#]*(&utm_[a-z_]+=[^&#]*)*$', ''), '/') "
        "  AS curl FROM synth) "
        "SELECT curl, CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id, "
        "COUNT(*) AS n_dups FROM canon GROUP BY curl"
    ),
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-side dedup every corpus
    pipeline runs before any content dedup: lowercase the URL, drop the
    fragment, strip tracking (utm_*) query params, trim the trailing
    slash, then keep one doc per canonical URL.  The corpus has no URL
    column, so deterministic URLs are WOVEN from row fields first
    (host-case, trailing-slash, utm, ref and fragment variants keyed on
    doc_id residues) — the canonicalizer then has real collisions to
    collapse, which the oracle checks exactly.

    Scale story: per-row JVM regex/string ops (codegen, no Python) into
    one hash aggregate on the canonical key — identical shape to
    dedup_exact, the trivially scale-safe groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".example.com/"),
        # first token only: substring_index stops at the first space
        # instead of materializing the whole per-word array (r12 — same
        # prefix-bound discipline as the phash signature); identical for
        # no-space, leading-space and empty payloads.
        F.substring_index(F.col("text"), " ", 1),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed&utm_campaign=x"))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("?ref="), (F.col("doc_id") % 5).cast("string")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("#section-"), (F.col("doc_id") % 3).cast("string")))
        .otherwise(F.lit("")),
    )
    canon = F.rtrim(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), "#.*$", ""),
            "\\?utm_[a-z_]+=[^&#]*(&utm_[a-z_]+=[^&#]*)*$",
            "",
        ),
        F.lit("/"),
    )
    return (
        docs.select(F.col("doc_id"), canon.alias("curl"))
        .groupBy("curl")
        .agg(F.min("doc_id").cast("long").alias("keep_doc_id"), F.count("*").alias("n_dups"))
    )


@query(
    "x_dedup_prefix",
    category="llm_dedup",
    oracle=(
        "WITH p AS (SELECT doc_id, "
        "  array_to_string((string_split(text, ' '))[1:16], ' ') AS prefix16 "
        "  FROM documents) "
        "SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs "
        "FROM p GROUP BY prefix16 HAVING COUNT(*) > 1"
    ),
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-duplicate detection: documents sharing their first 16
    tokens — the boilerplate-header signal crawl pipelines use to
    catch template pages and truncation variants that full-document
    hashing misses (the bodies differ, the opening never does).

    Scale shape: per-row slice+join of the token array (all codegen),
    one hash aggregate on the prefix key with map-side partials, then
    the HAVING filter — dedup_exact's trivially scale-safe shape with
    a prefix key instead of the full text.  At Common-Crawl scale the
    prefix key is hashed (xxhash64) before the shuffle; the string key
    keeps the DuckDB oracle exact here."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 16), " ")
    return (
        docs.select("doc_id", prefix.alias("prefix16"))
        .groupBy("prefix16")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("keep_doc_id", "n_docs")
    )


_CONT_T_NUM, _CONT_T_DEN = 4, 5  # containment threshold 0.8 as a rational
_CONT_N = 3  # shingle width


@query(
    "x_dedup_gram_containment",
    category="llm_dedup",
    oracle=(
        # Deliberately the NAIVE all-pairs formulation: the Spark side
        # generates candidates with the prefix filter, so the
        # differential also PROVES the filter is lossless.
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
        "g AS (SELECT doc_id, list_distinct(list_transform("
        f"      range(1, len(w) - {_CONT_N - 2}), "
        f"      i -> array_to_string(w[i:i+{_CONT_N - 1}], ' '))) AS grams "
        f"     FROM t WHERE len(w) >= {_CONT_N}) "
        "SELECT id_a, id_b, containment FROM ("
        "  SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / len(a.grams) "
        "    AS containment "
        "  FROM g a JOIN g b ON a.doc_id <> b.doc_id) "
        f"WHERE containment >= {_CONT_T_NUM / _CONT_T_DEN}"
    ),
)
def dedup_gram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplication: 3-gram-set CONTAINMENT >= 0.8 —
    |grams(A) ∩ grams(B)| / |grams(A)| — the signal for quoting,
    template-plus-additions, and excerpt duplication that symmetric
    Jaccard misses (a short doc fully quoted inside a long one has high
    containment but low Jaccard).  Shingles, not tokens: this corpus's
    tiny vocabulary saturates token SETS (set-containment >= 0.9 holds
    for ~2M of sf0.1's pairs), while 3-gram sets separate cleanly.

    Scale shape — the SSJoin PREFIX FILTER (Chaudhuri et al. ICDE'06 /
    Bayardo et al. WWW'07): if containment(A in B) >= t, then at most
    floor((1-t)|A|) of A's grams are absent from B, so ANY fixed
    (n DIV 5 + 1)-gram subset of A must share a gram with B — only that
    prefix enters the inverted-index join, and the exact verify runs on
    the surviving candidate pairs only, never all pairs.  The DuckDB
    oracle IS the naive all-pairs definition, so the hash match proves
    the filter drops nothing.  Two r12 reworks, both output-identical
    (A/B-proven at sf0.001/0.01/0.1):

    - RAREST-FIRST prefixes (the Bayardo df-ordering the earlier
      lexicographic form deferred): one vocabulary-bounded document-
      frequency aggregate ranks each doc's grams by ascending global
      df, and the prefix takes the rarest n DIV 5 + 1.  The pigeonhole
      argument holds for ANY fixed subset, so the filter stays
      lossless while the candidate join's output follows the df of the
      PREFIX grams — measured at sf0.1: 532k -> 308k join rows, 516k
      -> 300k candidate pairs, and the same 512 final pairs.
    - HASH-PACKED grams (guide §2.3, narrower shuffle keys): every
      gram crosses every exchange, broadcast, and array_intersect as
      one xxhash64 BIGINT instead of a ~17-char shingle string.  The
      candidate join is collision-immune by construction (a collision
      only ADDS a candidate the exact verify rejects); the verify's
      intersect-on-hashes equals intersect-on-strings iff the corpus
      vocabulary is hash-distinct, which tests/test_properties.py pins
      by asserting zero xxhash64 collisions over the full gram
      vocabulary (27,213 distinct grams at sf0.1; a 64-bit collision
      needs ~2^32 grams).  n_a is sized on the STRING-distinct gram
      set before hashing, so the containment denominator is exact by
      construction.

    Hot shingles are aggregate-join skew (AQE splits them) — and the
    rarest-first prefix keeps them out of the index side entirely.
    Threshold is the rational 4/5 and containment is an int/int
    division — bit-identical in both engines."""
    w = F.split("text", " ")
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(w) - {_CONT_N - 1}), "
            f"i -> concat_ws(' ', slice(w, i, {_CONT_N})))"
        )
    )
    g = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", w.alias("w"))
        .filter(F.size("w") >= _CONT_N)
        .select("doc_id", grams.alias("grams"))
        .select(
            "doc_id",
            F.expr("transform(grams, x -> xxhash64(x))").alias("h"),
            F.size("grams").alias("n"),
        )
        .localCheckpoint(eager=False)  # feeds the index, the prefix, AND verify
    )
    el = g.select("doc_id", "n", F.explode("h").alias("gh"))
    df = el.groupBy("gh").agg(F.count("*").alias("df"))
    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "gh"))
    # The index rows stay NARROW (id, gram hash) — measured: carrying
    # sizes through the exploded join for the |B| >= ceil(t|A|) length
    # prune cost more in shuffle width than the 31% candidate cut saved.
    pa = (
        el.join(df, "gh")
        .withColumn("rn", rn)
        .filter(F.col("rn") <= F.expr(f"n DIV {_CONT_T_DEN} + 1"))
        .select(F.col("doc_id").alias("id_a"), "gh")
    )
    pb = g.select(F.col("doc_id").alias("id_b"), F.explode("h").alias("gh"))
    cand = (
        pa.join(pb, "gh")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ga = g.select(F.col("doc_id").alias("id_a"), F.col("h").alias("h_a"), F.col("n").alias("n_a"))
    gb = g.select(F.col("doc_id").alias("id_b"), F.col("h").alias("h_b"))
    containment = (
        F.size(F.array_intersect("h_a", "h_b")).cast("double") / F.col("n_a")
    )
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", containment.alias("containment"))
        .filter(F.col("containment") >= _CONT_T_NUM / _CONT_T_DEN)
    )


@query(
    "x_dedup_semantic",
    category="llm_dedup",
    oracle=_ivf_pair_oracle(
        "SELECT v.label, v.vec_id AS keep_id "
        "FROM embeddings v "
        "WHERE v.vec_id NOT IN (SELECT id_b FROM epairs WHERE raw >= 0.4)"
    ),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): prune the corpus
    down to one representative per embedding-space near-dup
    neighbourhood.  A vector is DROPPED iff any smaller-id vector among
    its IVF-blocked candidates sits within cosine >= 0.4 — the
    deterministic keep-lowest-id rule (the paper keeps the example
    farthest from the cluster centroid; lowest-id is the reproducible
    stand-in, the same keep-first convention as dedup_exact).  The rule
    is one-pass and declarative: no iteration, because droppedness of
    the smaller neighbour is irrelevant — chains collapse to their
    minimum.

    Scale shape: reuses x_dedup_embedding's TRAINED-IVF candidate
    machinery (VERDICT r10 item 2 — the label block is gone; candidate
    fan-out is bounded by quantizer list occupancy, never all-pairs and
    never keyed on a bounded-cardinality column), then ONE distinct
    projection of the dropped side and ONE left-anti equi-join back
    onto the corpus."""
    from .llm_similarity import ivf_candidate_pairs

    dropped = (
        ivf_candidate_pairs(spark, sf_dir)
        .filter(F.col("raw") >= 0.4)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        load_table(spark, sf_dir, "embeddings")
        .join(dropped, "vec_id", "left_anti")
        .select("label", F.col("vec_id").alias("keep_id"))
    )


@query(
    "x_dedup_incremental",
    category="llm_dedup",
    oracle=(
        f"WITH tagged AS (SELECT doc_id, lower(trim(text)) AS norm, "
        f"  (doc_id * {KNUTH}) % 10 < 8 AS in_base FROM documents), "
        "base AS (SELECT DISTINCT norm FROM tagged WHERE in_base), "
        "delta AS (SELECT doc_id, norm FROM tagged WHERE NOT in_base), "
        "survivors AS (SELECT d.doc_id, d.norm FROM delta d "
        "  WHERE d.norm NOT IN (SELECT norm FROM base)) "
        "SELECT norm_hash, keep_id, n_batch_copies FROM ("
        "  SELECT md5(norm) AS norm_hash, MIN(doc_id) AS keep_id, "
        "    CAST(COUNT(*) AS BIGINT) AS n_batch_copies "
        "  FROM survivors GROUP BY norm)"
    ),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a new crawl batch (the 20% hash
    split standing in for today's delta) dedupes against the ALREADY
    CURATED base corpus (the 80%) and then within itself — the shape
    every continuously-ingesting pipeline runs, where re-deduping the
    full corpus per batch would be quadratic over time.

    Two stages, both O(batch) not O(corpus) on the shuffle side:
    (1) cross-batch: one LEFT-ANTI equi-join of delta norms against
    the base's distinct norm set — at 100 TB the base side is a
    pre-built bucketed norm-hash table (dedup_exact's output), so the
    join co-locates without reshuffling the corpus; (2) in-batch:
    dedup_exact's keep-first hash aggregate over the survivors.
    The batch/base split is the portable Knuth hash, reproducible on
    any engine; output keys are md5 of the normalized text, exactly
    the signature the base index stores."""
    tagged = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.trim(F.col("text"))).alias("norm"),
        (F.pmod(F.col("doc_id") * KNUTH, F.lit(10)) < 8).alias("in_base"),
    )
    base = tagged.filter("in_base").select("norm").distinct()
    delta = tagged.filter(~F.col("in_base")).select("doc_id", "norm")
    survivors = delta.join(base, "norm", "left_anti")
    return (
        survivors.groupBy("norm")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_batch_copies"))
        .select(F.md5("norm").alias("norm_hash"), "keep_id", "n_batch_copies")
    )


_PARA_MIN_DOCS = 3  # a span seen in >= 3 docs is boilerplate


@query(
    "x_dedup_paragraph",
    category="llm_dedup",
    oracle=(
        "WITH paras AS (SELECT doc_id, unnest(string_split(text, '. ')) AS para "
        "               FROM documents), "
        "clean AS (SELECT doc_id, trim(para) AS para FROM paras "
        "          WHERE trim(para) <> ''), "
        "pdocs AS (SELECT para, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs "
        "          FROM clean GROUP BY 1), "
        f"boiler AS (SELECT para FROM pdocs WHERE n_docs >= {_PARA_MIN_DOCS}) "
        "SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras, "
        "  CAST(COUNT(*) FILTER (WHERE b.para IS NOT NULL) AS BIGINT) AS n_boiler "
        "FROM clean c LEFT JOIN boiler b ON c.para = b.para "
        "GROUP BY 1"
    ),
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level boilerplate removal (the C4 cleaning rule:
    discard spans seen in multiple documents — cookie banners, license
    headers, navigation text survive whole-document dedup because the
    surrounding text differs).  Documents split on sentence boundaries;
    a span appearing in >= 3 DISTINCT docs is boilerplate; output is
    each doc's span count and boilerplate count — the removal mask a
    curation pipeline applies before training.

    Scale shape: one explode -> one (span -> distinct-doc-count) hash
    aggregate (output bounded by distinct spans, with the usual
    hash-the-span-key trick at 100 TB) -> one equi-join back.  The
    same shape as dedup_exact, one level finer."""
    paras = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", "\\. ")).alias("para"))
        .select("doc_id", F.trim("para").alias("para"))
        .filter(F.col("para") != "")
    )
    boiler = (
        paras.groupBy("para")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= _PARA_MIN_DOCS)
        .select("para", F.lit(1).alias("is_boiler"))
    )
    return (
        paras.join(boiler, "para", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.count(F.when(F.col("is_boiler").isNotNull(), 1)).alias("n_boiler"),
        )
    )


_BLOOM_M = 65536  # bit positions
_BLOOM_J = 3  # hash functions (Kirsch-Mitzenmacher double hashing)


@query(
    "x_filter_bloom",
    category="llm_dedup",
    oracle=(
        f"WITH tagged AS (SELECT doc_id, "
        "  array_to_string((string_split(lower(trim(text)), ' '))[1:16], ' ') AS norm, "
        f"  (doc_id * {KNUTH}) % 10 < 8 AS in_base FROM documents), "
        "sig AS (SELECT doc_id, norm, in_base, md5(norm) AS h FROM tagged), "
        f"hv AS (SELECT doc_id, norm, in_base, {hex_int_duck('h', 1, 6)} AS v1, "
        f"  {hex_int_duck('h', 7, 6)} AS v2 FROM sig), "
        f"bits AS (SELECT DISTINCT (v1 + t.i * v2) % {_BLOOM_M} AS pos "
        f"  FROM hv, unnest(range(0, {_BLOOM_J})) AS t(i) WHERE in_base), "
        "basen AS (SELECT DISTINCT norm FROM tagged WHERE in_base), "
        "dm AS (SELECT d.doc_id, "
        + " AND ".join(
            f"((d.v1 + {i} * d.v2) % {_BLOOM_M}) IN (SELECT pos FROM bits)"
            for i in range(_BLOOM_J)
        )
        + " AS maybe, "
        "  d.norm IN (SELECT norm FROM basen) AS is_dup "
        "  FROM hv d WHERE NOT d.in_base) "
        "SELECT CAST((SELECT COUNT(*) FROM basen) AS BIGINT) AS n_base_norms, "
        "  CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set, "
        "  CAST(COUNT(*) AS BIGINT) AS n_delta, "
        "  CAST(COUNT(*) FILTER (WHERE NOT maybe) AS BIGINT) AS n_definite_new, "
        "  CAST(COUNT(*) FILTER (WHERE maybe) AS BIGINT) AS n_maybe, "
        "  CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_true_dup, "
        "  CAST(COUNT(*) FILTER (WHERE maybe AND NOT is_dup) AS BIGINT) AS n_false_pos "
        "FROM dm"
    ),
)
def filter_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter audit for incremental dedup: build a 65536-bit
    Bloom filter (3 double-hashed positions per key, Kirsch-Mitzenmacher)
    over the curated base's 16-token-prefix signatures (x_dedup_prefix's
    boilerplate key — the full-norm key has no cross-batch collisions on
    this corpus below sf0.1, which would leave the true-dup branch
    untested), stream the delta batch through it, and report the
    triage — definite-new rows (skip
    the anti-join entirely), maybe-present rows (the only rows that
    shuffle), true duplicates, and measured false positives.  This is
    the detector+sizing audit for the Bloom pushdown that makes
    x_dedup_incremental's cross-batch anti-join O(actual-dups) instead
    of O(batch) at 100 TB (Spark itself applies the same idea as
    runtime row-group Bloom pruning).

    Determinism: positions derive from md5 hex digits (the portable
    parse in functions/determinism.py) and every output is an exact
    integer count.

    Scale shape: the bit SET is content-bounded (<= m=65536 rows ->
    one collect_set into a broadcast ARRAY scalar); the delta pass is
    then ZERO-shuffle membership tests (3 array_contains per row); only
    the exact-membership audit joins, and only to label true dups for
    the report."""
    tagged = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(
            F.slice(F.split(F.lower(F.trim(F.col("text"))), " "), 1, 16), " "
        ).alias("norm"),
        (F.pmod(F.col("doc_id") * KNUTH, F.lit(10)) < 8).alias("in_base"),
    )
    h = F.md5("norm")
    hv = tagged.select(
        "doc_id",
        "norm",
        "in_base",
        hex_int(h, 1, 6).alias("v1"),
        hex_int(h, 7, 6).alias("v2"),
    )
    base = hv.filter("in_base")
    bits = (
        base.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.col("v1") + i * F.col("v2"), F.lit(_BLOOM_M))
                        for i in range(_BLOOM_J)
                    ]
                )
            ).alias("pos")
        )
        .agg(F.sort_array(F.collect_set("pos")).alias("bits"))
    )
    basen = base.select("norm").distinct()
    base_stats = basen.agg(F.count("*").alias("n_base_norms"))
    delta = hv.filter(~F.col("in_base"))
    maybe = None
    for i in range(_BLOOM_J):
        t = F.array_contains(
            F.col("bits"), F.pmod(F.col("v1") + i * F.col("v2"), F.lit(_BLOOM_M))
        )
        maybe = t if maybe is None else maybe & t
    dm = (
        delta.crossJoin(F.broadcast(bits))
        .join(basen.select("norm", F.lit(1).alias("dup")), "norm", "left")
        .select(
            maybe.alias("maybe"),
            F.col("dup").isNotNull().alias("is_dup"),
            F.size("bits").alias("n_bits"),
        )
    )
    return (
        dm.agg(
            F.count("*").alias("n_delta"),
            F.count(F.when(~F.col("maybe"), 1)).alias("n_definite_new"),
            F.count(F.when(F.col("maybe"), 1)).alias("n_maybe"),
            F.count(F.when(F.col("is_dup"), 1)).alias("n_true_dup"),
            F.count(F.when(F.col("maybe") & ~F.col("is_dup"), 1)).alias(
                "n_false_pos"
            ),
            F.max("n_bits").alias("n_bits_set"),
        )
        .crossJoin(F.broadcast(base_stats))
        .select(
            "n_base_norms",
            F.col("n_bits_set").cast("long").alias("n_bits_set"),
            "n_delta",
            "n_definite_new",
            "n_maybe",
            "n_true_dup",
            "n_false_pos",
        )
    )


_PMH_P = 16_777_213  # prime < 2^24 (affine permutation modulus)
_PMH_PERMS = 64  # signature length
_PMH_BAND_ROWS = 8  # -> 8 bands x 8 rows
_PMH_BANDS = _PMH_PERMS // _PMH_BAND_ROWS


@query(
    "x_dedup_minhash_portable",
    category="llm_dedup",
    oracle=(
        "WITH al AS (SELECT doc_id, "
        "  list_filter(string_split(text, ' '), x -> x <> '') AS a FROM documents), "
        "tk AS (SELECT doc_id, a[i] AS tok, i AS pos "
        "       FROM al, unnest(range(1, len(a) + 1)) AS t(i)), "
        "el AS (SELECT doc_id, tok || '#' || CAST(row_number() OVER ("
        "  PARTITION BY doc_id, tok ORDER BY pos) AS VARCHAR) AS elem FROM tk), "
        "hw AS (SELECT doc_id, "
        f"  {hex_int_duck('md5(elem)', 1, 12)} AS w FROM el), "
        "hv AS (SELECT doc_id, w // 16777216 AS v1, w % 16777216 AS v2 FROM hw), "
        f"sig AS (SELECT doc_id, t.i AS i, MIN((v1 + t.i * v2) % {_PMH_P}) AS s "
        f"  FROM hv, unnest(range(0, {_PMH_PERMS})) AS t(i) GROUP BY 1, 2), "
        f"bandkey AS (SELECT doc_id, i // {_PMH_BAND_ROWS} AS b, "
        "  string_agg(CAST(s AS VARCHAR), ',' ORDER BY i) AS key FROM sig GROUP BY 1, 2), "
        "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db "
        "  FROM bandkey x JOIN bandkey y ON x.b = y.b AND x.key = y.key "
        "  AND x.doc_id < y.doc_id), "
        "sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM el GROUP BY 1), "
        "inter AS (SELECT c.da, c.db, CAST(COUNT(*) AS BIGINT) AS inter_cnt "
        "  FROM cand c JOIN el ea ON ea.doc_id = c.da "
        "  JOIN el eb ON eb.doc_id = c.db AND ea.elem = eb.elem GROUP BY 1, 2) "
        "SELECT i.da AS doc_a, i.db AS doc_b, i.inter_cnt, "
        "  sa.n + sb.n - i.inter_cnt AS union_cnt "
        "FROM inter i JOIN sizes sa ON sa.doc_id = i.da "
        "JOIN sizes sb ON sb.doc_id = i.db "
        "WHERE 5 * i.inter_cnt >= 4 * (sa.n + sb.n - i.inter_cnt)"
    ),
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with FULL-HASH driver evidence — the
    portable twin of dedup_minhash (which is rows-only because its
    xxhash64 permutations exist only in Spark).  Every hash here is
    engine-portable: elements are the bag expansion ('token#k' per k-th
    occurrence, bag Jaccard per dedup_minhash's corpus analysis),
    hashed by parsing 12 md5 hex digits ONCE and splitting the 48 bits
    into the two 24-bit operands (w DIV 2^24, w % 2^24) of an affine
    permutation family (v1 + i*v2) mod p — so signatures,
    band keys, candidate pairs, AND the exact bag-Jaccard verify are
    bit-identical in DuckDB, closing the one structural rows-only gap
    in the dedup family.

    64 perms, 8 bands x 8 rows: planted dups (J~0.99) pass >= 1 band
    with p ~ 1 - (1 - 0.99^8)^8 ~ 1 - 2e-9 (32 perms / 4 bands missed
    2 of 28 boundary pairs at sf0.001 — measured); background pairs
    (J <= 0.64 at p99.9) pass a band at <= 0.64^8 ~ 2.8%.  The final
    filter is the
    EXACT rational threshold 5*inter >= 4*union (J >= 0.8, no floats
    anywhere).

    Scale shape (dedup_minhash's, unchanged): one codegen pass computes
    all 32 mins per doc (hash aggregate, no 32x row blowup), band keys
    are a per-doc projection, candidates come from the banded
    SELF-EQUI-JOIN (never all-pairs), and the verify join is bounded by
    the candidate set; the element table is localCheckpointed because
    the verify reads it twice."""
    al = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("a")
    )
    # occurrence numbering via a per-(doc, tok) window: A/B-measured
    # against the count + re-explode shape (dedup_minhash's expand_bag)
    # on a quiet box at sf0.1 — window 4.9 s vs agg 5.8 s warm for the
    # full operator (and a far cheaper cold plan), so the window stays;
    # the produced element multiset {tok#1..tok#c} is identical either
    # way and every downstream consumer is order-independent.
    # r12 build-cost optimization: the whole pipeline is TWO spark.sql
    # calls (element table, then everything below the checkpoint) —
    # identical operator tree to the former DataFrame chain (A/B-proven
    # bit-identical), analyzed once per stage instead of per op.
    el = spark.sql(
        "SELECT doc_id, concat_ws('#', tok, CAST(row_number() OVER ("
        "  PARTITION BY doc_id, tok ORDER BY pos) AS STRING)) AS elem "
        "FROM (SELECT doc_id, pos, tok FROM {al} "
        "      LATERAL VIEW posexplode(a) t AS pos, tok)",
        al=al,
    ).localCheckpoint(eager=False)
    # ONE 12-hex-char parse per element, split arithmetically into the
    # two 24-bit permutation operands (VERDICT r9 item 5: share the
    # md5-hex span parse across v1/v2, the x_agg_distinct_kmv
    # discipline) — v1 is the high 24 bits, v2 the low 24.  The
    # element-count rides along in the signature aggregate (same
    # groupBy key) instead of a second full pass over el; values
    # identical (the oracle's `sizes` CTE counts the same el rows).
    mins = ", ".join(
        f"MIN(pmod(v1 + {i} * v2, {_PMH_P})) AS s{i}" for i in range(_PMH_PERMS)
    )
    band_structs = ", ".join(
        "struct({b} AS b, concat_ws(',', {cols}) AS key)".format(
            b=b,
            cols=", ".join(
                f"CAST(s{i} AS STRING)"
                for i in range(b * _PMH_BAND_ROWS, (b + 1) * _PMH_BAND_ROWS)
            ),
        )
        for b in range(_PMH_BANDS)
    )
    # A/B-measured (r12): checkpointing sig as well costs MORE than the
    # duplicated in-plan aggregate it would save (4.55 s vs 3.25 s total
    # at sf0.1) — the extra materialization + stage barrier loses; the
    # one-SQL tree below keeps exchange reuse available to the planner.
    return spark.sql(
        "WITH hv AS (SELECT doc_id, shiftrightunsigned(w, 24) AS v1, "
        f"  w & {(1 << 24) - 1} AS v2 "
        f"  FROM (SELECT doc_id, {hex_int_sql('md5(elem)', 1, 12)} AS w "
        "        FROM {el})), "
        f"sig AS (SELECT doc_id, {mins}, COUNT(*) AS n FROM hv GROUP BY doc_id), "
        "bands AS (SELECT doc_id, n, bk.b AS b, bk.key AS key "
        f"  FROM sig LATERAL VIEW explode(array({band_structs})) t AS bk), "
        # r13 size prefilter (guide §3.2 — shrink the join's big side):
        # J >= 4/5 forces inter >= 4(na+nb)/9 and inter <= min(na, nb),
        # so any pair with 4*max(n) > 5*min(n) can never verify — exact
        # integer arithmetic, provably lossless.  Kills 110k -> 73k
        # candidates at sf0.1 BEFORE the element-level verify join.
        "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db "
        "  FROM bands x JOIN bands y "
        "  ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id "
        "  WHERE 4 * greatest(x.n, y.n) <= 5 * least(x.n, y.n)), "
        "inter AS (SELECT c.da, c.db, COUNT(*) AS inter_cnt "
        "  FROM cand c JOIN {el} ea ON ea.doc_id = c.da "
        "  JOIN {el} eb ON eb.doc_id = c.db AND ea.elem = eb.elem "
        "  GROUP BY c.da, c.db) "
        "SELECT i.da AS doc_a, i.db AS doc_b, i.inter_cnt, "
        "  sa.n + sb.n - i.inter_cnt AS union_cnt "
        "FROM inter i JOIN sig sa ON sa.doc_id = i.da "
        "JOIN sig sb ON sb.doc_id = i.db "
        "WHERE 5 * i.inter_cnt >= 4 * (sa.n + sb.n - i.inter_cnt)",
        el=el,
    )


_PSH_BITS = 60  # fingerprint width (stays positive in a signed bigint)
_PSH_BAND_BITS = 15  # -> 4 bands; hamming <= 3 pigeonholes into >= 1 exact band
_PSH_MAX_HAMMING = 3


@query(
    "x_dedup_simhash_portable",
    category="llm_dedup",
    oracle=(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok "
        "  FROM documents), "
        "cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c "
        "  FROM tok WHERE tok <> '' GROUP BY 1, 2), "
        "bits AS (SELECT doc_id, c, t.j AS j, "
        f"  ({hex_digit_duck('md5(tok)', 't.j // 4 + 1')} "
        "   // (CASE t.j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2 AS bit "
        f"  FROM cnt, unnest(range(0, {_PSH_BITS})) AS t(j)), "
        "sj AS (SELECT doc_id, j, CASE WHEN SUM((2 * bit - 1) * c) > 0 "
        "  THEN 1 ELSE 0 END AS bit FROM bits GROUP BY 1, 2), "
        "fp AS (SELECT doc_id, CAST(SUM(bit * (1::BIGINT << j)) AS BIGINT) AS fp "
        "  FROM sj GROUP BY 1), "
        f"bands AS (SELECT doc_id, j // {_PSH_BAND_BITS} AS b, "
        f"  CAST(SUM(bit * (1::BIGINT << (j % {_PSH_BAND_BITS}))) AS BIGINT) AS bv "
        "  FROM sj GROUP BY 1, 2), "
        "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db "
        "  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv "
        "  AND x.doc_id < y.doc_id) "
        "SELECT c.da AS doc_a, c.db AS doc_b, "
        "  CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming "
        "FROM cand c JOIN fp fa ON fa.doc_id = c.da JOIN fp fb ON fb.doc_id = c.db "
        f"WHERE bit_count(xor(fa.fp, fb.fp)) <= {_PSH_MAX_HAMMING}"
    ),
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with FULL-HASH driver evidence — the
    portable twin of x_dedup_simhash (rows-only: its fingerprint bits
    come from Spark-only xxhash64).  Token bits here are md5 hex
    nibbles unpacked arithmetically (same characters both engines, the
    x_filter_bloom discipline), weighted by term frequency, majority-
    voted per bit (sum of +/-count, tie -> 0), packed into a 60-bit
    bigint fingerprint.  Candidates come from pigeonhole banding — 4
    bands of 15 bits, hamming <= 3 guarantees >= 1 band matches
    EXACTLY, so candidate generation is an equi-join on (band,
    band_value) — and the verify is one bit_count(xor) per candidate.
    Frequency weighting makes the fingerprint token-order-invariant,
    matching this corpus's shuffled near-dups.

    Scale shape: the bit matrix explode is 60 rows per DISTINCT (doc,
    token) pair (bounded by vocabulary co-occurrence, not corpus
    bytes), collapsed by two hash aggregates into one row per doc;
    banding is a projection; the self-join never sees more than the
    band-collision set.  Everything downstream of md5 is integer
    arithmetic — bit-identical across engines."""
    cnt = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .select("doc_id", "c", F.md5("tok").alias("h"))
    )

    def bit_expr(j: int) -> str:
        # bit j of the md5: hex char j//4, nibble bit 3-(j%4)
        return f"pmod({hex_int_sql('h', j // 4 + 1, 1)} DIV {8 >> (j % 4)}, 2)"

    # one corpus-aggregate pass: 60 signed bit-sums as COLUMNS (the
    # minhash-signature discipline) — measured 2x faster than the
    # 60-way exploded (doc, j) aggregate it replaces, and the fp/band
    # packings become pure projections instead of second aggregates.
    # r12 build-cost optimization: the aggregate and everything below it
    # are one spark.sql call each (identical operator tree, A/B-proven
    # bit-identical); the sig checkpoint — read by fp
    # AND bands — is unchanged.
    sums = ", ".join(
        f"SUM((2 * {bit_expr(j)} - 1) * c) AS b{j}" for j in range(_PSH_BITS)
    )
    sig = spark.sql(
        f"SELECT doc_id, {sums} FROM {{cnt}} GROUP BY doc_id", cnt=cnt
    ).localCheckpoint(eager=False)

    def packed(lo: int, n: int, shift_mod: int) -> str:
        return " + ".join(
            "(CASE WHEN b{j} > 0 THEN CAST({v} AS BIGINT) ELSE CAST(0 AS BIGINT) END)".format(
                j=j, v=1 << (j % shift_mod)
            )
            for j in range(lo, lo + n)
        )

    band_structs = ", ".join(
        f"struct({b} AS b, {packed(b * _PSH_BAND_BITS, _PSH_BAND_BITS, _PSH_BAND_BITS)} AS bv)"
        for b in range(_PSH_BITS // _PSH_BAND_BITS)
    )
    return spark.sql(
        "WITH fp AS (SELECT doc_id, "
        f"  {packed(0, _PSH_BITS, _PSH_BITS + 1)} AS fp FROM {{sig}}), "
        "bands AS (SELECT doc_id, bk.b AS b, bk.bv AS bv "
        f"  FROM {{sig}} LATERAL VIEW explode(array({band_structs})) t AS bk), "
        "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db "
        "  FROM bands x JOIN bands y "
        "  ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id) "
        "SELECT da AS doc_a, db AS doc_b, hamming FROM ("
        "  SELECT c.da, c.db, CAST(bit_count(fa.fp ^ fb.fp) AS BIGINT) AS hamming "
        "  FROM cand c JOIN fp fa ON fa.doc_id = c.da "
        "  JOIN fp fb ON fb.doc_id = c.db) "
        f"WHERE hamming <= {_PSH_MAX_HAMMING}",
        sig=sig,
    )


# -- repeated-span (substring-level) duplication ------------------------

_SPAN_K = 8  # tokens per rolling gram; a merged island is a >=8-token repeat


@query(
    "x_dedup_span",
    category="llm_dedup",
    oracle=(
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
        "o AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, i AS pos, "
        f"      md5(array_to_string(w[i:i+{_SPAN_K - 1}], ' ')) AS g "
        f"     FROM t, LATERAL (SELECT unnest(range(1, len(w) - {_SPAN_K - 2})) AS i) r "
        f"     WHERE len(w) >= {_SPAN_K}), "
        "d AS (SELECT g FROM o GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2), "
        "od AS (SELECT o.doc_id, o.n_tokens, o.pos FROM o JOIN d USING (g)), "
        "brk AS (SELECT doc_id, n_tokens, pos, "
        "        CASE WHEN pos - lag(pos) OVER w IS NULL THEN 1 "
        f"             WHEN pos - lag(pos) OVER w > {_SPAN_K} THEN 1 ELSE 0 END AS b "
        "        FROM od WINDOW w AS (PARTITION BY doc_id ORDER BY pos)), "
        "isl AS (SELECT doc_id, n_tokens, pos, CAST(SUM(b) OVER ("
        "        PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) "
        "        AS BIGINT) AS island FROM brk), "
        "sp AS (SELECT doc_id, n_tokens, island, "
        f"       MAX(pos) + {_SPAN_K} - MIN(pos) AS span_tokens "
        "       FROM isl GROUP BY 1, 2, 3) "
        "SELECT doc_id, n_tokens, CAST(COUNT(*) AS BIGINT) AS n_dup_spans, "
        "CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens, "
        "CAST(1000000 * SUM(span_tokens) // n_tokens AS BIGINT) AS dup_micro "
        "FROM sp GROUP BY doc_id, n_tokens"
    ),
)
def dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication audit (the span form of Lee et al.,
    'Deduplicating Training Data Makes Language Models Better', ACL'22,
    at token-gram granularity): every 8-token gram occurring in >= 2
    DISTINCT documents marks its occurrence positions as duplicated;
    per document, overlapping-or-adjacent marked intervals merge into
    maximal islands (all grams are length-K, so occurrences sorted by
    position merge exactly when the gap to the previous start is <= K).
    Output per affected doc: island count, duplicated-token total, and
    the exact integer micro-ratio of duplicated tokens — the signal for
    cutting boilerplate/quotation spans rather than whole documents,
    which doc-level MinHash cannot see.

    Scale shape: gram hashing is a pure projection (no shuffle); the
    duplicated-gram dictionary is ONE count-distinct aggregate on the
    gram hash (map-side partial); occurrences rejoin it with a plain
    equi-join (size-adaptive: broadcast while the dictionary is small,
    shuffle join once it is corpus-sized); the island
    merge is a per-doc window whose doc_id partitioning then satisfies
    both downstream aggregates, so islands and the final per-doc rollup
    reuse the same exchange.  Hot grams (ubiquitous boilerplate) are
    aggregate/join skew — AQE splits them; a production corpus would
    additionally drop grams above a df ceiling (stop-gram floor) before
    the rejoin.  Everything is exact integer arithmetic.

    Gram key (r12, guide §2.3): one xxhash64 BIGINT over the token
    slice — no md5 hex string is ever built, and the dictionary
    aggregate + rejoin shuffle 8-byte keys instead of 32-char strings
    (A/B at sf0.1: 3.28 -> 2.45 s, byte-identical output at all three
    scale factors).  The oracle keeps md5 — any injective gram key
    yields the same duplicated-position set, and hash-distinctness of
    the 8-gram vocabulary is pinned in tests/test_properties.py
    (a 64-bit collision needs ~2^32 distinct grams; a collision could
    only ever ADD a false duplicated mark, never lose one)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    occ = (
        docs.filter(F.size("w") >= _SPAN_K)
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {_SPAN_K - 1}), "
                    f"i -> struct(i AS pos, "
                    f"xxhash64(slice(w, i, {_SPAN_K})) AS g))"
                )
            ).alias("e"),
        )
        .select("doc_id", "n_tokens", "e.pos", "e.g")
    )
    dup = (
        occ.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    od = occ.join(dup, "g").select("doc_id", "n_tokens", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = od.withColumn(
        "b",
        F.when(F.lag("pos").over(w).isNull(), F.lit(1))
        .when(F.col("pos") - F.lag("pos").over(w) > _SPAN_K, F.lit(1))
        .otherwise(F.lit(0)),
    )
    isl = brk.withColumn(
        "island",
        F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    spans = isl.groupBy("doc_id", "n_tokens", "island").agg(
        (F.max("pos") + _SPAN_K - F.min("pos")).alias("span_tokens")
    )
    return spans.groupBy("doc_id", "n_tokens").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
        F.expr("CAST(1000000 * sum(span_tokens) DIV n_tokens AS BIGINT)").alias(
            "dup_micro"
        ),
    )


@query(
    "x_dedup_cross_source",
    category="llm_dedup",
    oracle=(
        "WITH n AS (SELECT DISTINCT "
        "  array_to_string((string_split(lower(trim(text)), ' '))[1:16], ' ') "
        "    AS norm, source FROM documents), "
        "p AS (SELECT a.source AS source_a, b.source AS source_b, "
        "  CAST(COUNT(*) AS BIGINT) AS shared_norms "
        "  FROM n a JOIN n b ON a.norm = b.norm AND a.source < b.source "
        "  GROUP BY 1, 2), "
        "t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_norms FROM n "
        "  GROUP BY 1) "
        "SELECT p.source_a, p.source_b, p.shared_norms, "
        "ta.n_norms AS norms_a, tb.n_norms AS norms_b, "
        "CAST(1000000 * p.shared_norms // LEAST(ta.n_norms, tb.n_norms) "
        "  AS BIGINT) AS containment_ppm "
        "FROM p JOIN t ta ON p.source_a = ta.source "
        "JOIN t tb ON p.source_b = tb.source"
    ),
)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — which sources copy which: for
    every source pair, the count of 16-token-prefix signatures
    (x_dedup_prefix's boilerplate key) present in BOTH, plus the
    smaller side's containment share (ppm).  The curation-planning
    view on top of the dedup family: a high-containment pair means one
    crawl is largely a mirror and can be dropped BEFORE paying for
    pairwise dedup of its documents.

    Scale shape: distinct (norm, source) is one hash aggregate; the
    pair expansion is a self EQUI-join on the norm key — work bounded
    by sum over norms of (sources-per-norm choose 2), never
    |sources|^2 x |norms| — and the per-source totals join back at
    |sources| rows.  All integers; only pairs sharing >= 1 norm
    appear."""
    n = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.array_join(
                F.slice(F.split(F.lower(F.trim(F.col("text"))), " "), 1, 16), " "
            ).alias("norm"),
            "source",
        )
        .distinct()
        .localCheckpoint(eager=False)  # read by the pair join AND totals
    )
    p = (
        n.alias("a")
        .join(
            n.alias("b"),
            (F.col("a.norm") == F.col("b.norm"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").cast("long").alias("shared_norms"))
    )
    t = n.groupBy("source").agg(F.count("*").cast("long").alias("n_norms"))
    return (
        p.join(
            F.broadcast(t.select(F.col("source").alias("source_a"), F.col("n_norms").alias("norms_a"))),
            "source_a",
        )
        .join(
            F.broadcast(t.select(F.col("source").alias("source_b"), F.col("n_norms").alias("norms_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_norms",
            "norms_a",
            "norms_b",
            F.expr(
                "CAST(1000000 * shared_norms DIV least(norms_a, norms_b) AS BIGINT)"
            ).alias("containment_ppm"),
        )
    )
