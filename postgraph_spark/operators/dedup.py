"""Deduplication operators for large-scale corpus curation.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup, all expressed as
shuffle-based DataFrame pipelines with no driver-side state — the layout
that scales to 100 TB:

- exact: hash -> groupBy (one shuffle on the 16-byte digest).
- MinHash/LSH: shingle -> per-doc signature (map-side agg) -> band
  buckets -> self-join on bucket (shuffle on band key, never all-pairs).
- Jaccard verify: inverted-index join on shingle (shuffle on shingle),
  candidate pair counts vs set sizes — the classic set-similarity join.
- SimHash: per-token bit votes aggregated per doc (map-side partial agg).

Hashing uses md5 prefixes (not murmur) so signatures are reproducible
across engines — the DuckDB oracles compute the identical pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from postgraph_spark.functions.text import shingles, tokens


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical documents: (fingerprint, cnt, min_id)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min(id_col).alias("keep_id"))
        .filter(F.col("cnt") > 1)
    )


def _spread(df: DataFrame) -> DataFrame:
    """Widen under-partitioned input to the cluster's parallelism before
    CPU-heavy per-row work (tokenize/shingle/hash). A single small parquet
    file arrives as ONE partition — without this every shingle of the
    corpus is computed on one core. Decided from FILE METADATA only
    (df.inputFiles is catalog state): the old df.rdd.getNumPartitions()
    probe forced plan-to-RDD conversion, which under AQE materializes
    stages — a hidden job on the hot path. A 100 TB input has thousands
    of files -> no-op; a derived (non-scan) df -> no-op."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        return df
    if 0 < nfiles < target:
        return df.repartition(target)
    return df


def doc_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct k-shingles per document: (id, shingle)."""
    return (
        _spread(df).select(
            F.col(id_col), F.explode(F.array_distinct(shingles(tokens(F.col(text_col)), k))).alias("shingle")
        )
    )


def _minhash_wide(df: DataFrame, id_col: str, text_col: str, n_hashes: int, k: int) -> DataFrame:
    """Wide MinHash: one row per doc, columns m0..m{n-1}.

    h_i(s) = substr(md5(i || s), 1, 8) compared lexicographically — engine
    portable and deterministic. All n hashes are computed in ONE projection
    per shingle row and min-aggregated as n parallel partial aggs, so the
    shuffle carries one narrow row per document (not n_hashes x shingles
    rows — that long-form shape was 8x the rows for the same result)."""
    sh = doc_shingles(df, id_col, text_col, k)
    hv = sh.select(
        F.col(id_col),
        *[
            F.substring(F.md5(F.concat(F.lit(str(i)), F.col("shingle"))), 1, 8).alias(f"hv{i}")
            for i in range(n_hashes)
        ],
    )
    return hv.groupBy(id_col).agg(*[F.min(f"hv{i}").alias(f"m{i}") for i in range(n_hashes)])


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 8, k: int = 3
) -> DataFrame:
    """Long-form MinHash signature: (id, h (hash index), minhash) — the
    wide per-doc aggregate unpivoted at the end (docs x n rows, cheap)."""
    wide = _minhash_wide(df, id_col, text_col, n_hashes, k)
    stack = ", ".join(f"{i}, m{i}" for i in range(n_hashes))
    return wide.selectExpr(id_col, f"stack({n_hashes}, {stack}) AS (h, minhash)")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    wide: DataFrame | None = None,
    star_cap: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs (a < b) sharing >= 1 band bucket.

    Band key = md5 of the band's lex-sorted 'h:minhash' strings, built
    straight from the wide signature columns (no per-band shuffle). The
    only all-to-all operation is the equi-join on (band, bucket) — skew
    (a giant bucket of boilerplate docs) is handled by AQE skew-join.
    Pass a precomputed `wide` signature table (_minhash_wide output) to
    share the shingle pipeline with other consumers.

    ``star_cap`` (round-11 fanout audit): pair rows grow as the SQUARE
    of bucket membership — one bucket of 10^5 boilerplate docs is
    ~10^10 pairs, the adamic-adar blowup class. With the cap set, any
    bucket larger than ``star_cap`` emits STAR pairs (min-id
    representative, member) instead of all pairs — linear in bucket
    size, deterministic, and cluster-preserving: downstream
    connected-components reach the identical partition because every
    member still links to the bucket representative. What changes is
    only per-pair verification recall on oversized buckets (a member is
    verified against the representative, not every other member) — the
    trade a production dedup makes. Small buckets are untouched, so a
    non-binding cap returns byte-identical pairs."""
    rows_per_band = n_hashes // bands
    if wide is None:
        wide = _minhash_wide(df, id_col, text_col, n_hashes, k)
    band_structs = []
    for b in range(bands):
        parts = [
            F.concat(F.lit(f"{h}:"), F.col(f"m{h}"))
            for h in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        bucket = F.md5(F.array_join(F.array_sort(F.array(*parts)), "|"))
        band_structs.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    band_keys = wide.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")).select(
        F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    if star_cap is not None:
        from pyspark.sql import Window

        wkey = Window.partitionBy("band", "bucket")
        bk = band_keys.withColumn("_n", F.count(F.lit(1)).over(wkey)).withColumn(
            "_rep", F.min(id_col).over(wkey)
        )
        small = bk.filter(F.col("_n") <= star_cap).select(id_col, "band", "bucket")
        a = small.select(F.col(id_col).alias("a"), "band", "bucket")
        b = small.select(F.col(id_col).alias("b"), "band", "bucket")
        all_pairs = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
        )
        star = bk.filter(
            (F.col("_n") > star_cap) & (F.col(id_col) != F.col("_rep"))
        ).select(F.col("_rep").alias("a"), F.col(id_col).alias("b"))
        return all_pairs.union(star).distinct()
    a = band_keys.select(F.col(id_col).alias("a"), "band", "bucket")
    b = band_keys.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_estimate_calibration(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    materialize_min_docs: int = 100_000,
    n_docs: int | None = None,
) -> DataFrame:
    """Sketch calibration: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (fraction of agreeing signature slots — the
    unbiased estimator the banding scheme thresholds on) next to the
    EXACT shingle-set Jaccard, plus |error|. The measurement a pipeline
    uses to tune n_hashes/bands before trusting sketch-only dedup at
    full scale.

    Shape at 100 TB: the wide signature table feeds THREE consumers
    (band join + both per-side estimate lookups) and the shingle-array
    table two — above ``materialize_min_docs`` input rows both are
    localCheckpoint'ed so the tokenize->shingle->hash pipeline runs
    ONCE (both tables are doc-cardinality and narrow, far below the
    corpus); below it the recompute is cheaper than the IO — the same
    size-probed contract as jaccard_pairs (pass ``n_docs`` to keep
    plan construction lazy). Candidate pairs — far below all-pairs —
    drive two narrow signature lookups and two shingle-array re-attach
    joins. Returns (a, b, est_jaccard, exact_jaccard, abs_err)."""
    wide = _minhash_wide(df, id_col, text_col, n_hashes, k)
    arrs = doc_shingles(df, id_col, text_col, k).groupBy(id_col).agg(
        F.collect_list("shingle").alias("arr")
    )
    if (n_docs if n_docs is not None else df.count()) >= materialize_min_docs:
        wide = wide.localCheckpoint(eager=True)
        arrs = arrs.localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(
        df, id_col, text_col, n_hashes, bands, k, wide=wide
    )
    a_sig = wide.select(
        F.col(id_col).alias("a"),
        *[F.col(f"m{i}").alias(f"_a{i}") for i in range(n_hashes)],
    )
    b_sig = wide.select(
        F.col(id_col).alias("b"),
        *[F.col(f"m{i}").alias(f"_b{i}") for i in range(n_hashes)],
    )
    matches = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int") for i in range(n_hashes)
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        cand.join(a_sig, "a")
        .join(b_sig, "b")
        .join(arrs.select(F.col(id_col).alias("a"), F.col("arr").alias("arr_a")), "a")
        .join(arrs.select(F.col(id_col).alias("b"), F.col("arr").alias("arr_b")), "b")
        .select(
            "a",
            "b",
            F.round(matches / n_hashes, 6).alias("est_jaccard"),
            F.round(
                inter / (F.size("arr_a") + F.size("arr_b") - inter), 6
            ).alias("exact_jaccard"),
        )
        .withColumn(
            "abs_err",
            F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    k: int = 3,
    materialize_min_docs: int = 100_000,
    n_docs: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs (a < b, jac >= t).

    EAGER-EXECUTION NOTE: deciding whether to materialize the shared
    shingle-array table needs the input row count. Pass ``n_docs`` if
    the caller already knows it (keeps this a pure plan builder);
    otherwise ONE count job runs at plan-construction time — and when
    the count reaches ``materialize_min_docs`` the localCheckpoint also
    executes eagerly. Callers building plans they may never run should
    supply ``n_docs``.

    Prefix-filtered set-similarity join (PPJoin-family): shingles are
    globally ordered rarest-first; a document of |A| shingles exposes
    only its first |A| - ceil(t*|A|) + 1 as candidate keys — two sets
    with jac >= t MUST share a prefix element under any shared total
    order. Candidates verify exactly via array_intersect on the per-doc
    sorted shingle arrays. This kills the freq^2 blow-up of a plain
    inverted-index join on ubiquitous stop-shingles: the most frequent
    shingles sort LAST and never enter a prefix.

    Two further PPJoin filters run ON the prefix-matched rows, before
    the candidate dedup + array re-attach (each prefix row carries just
    2 extra ints):
      length filter  — jac >= t forces min(|A|,|B|) >= t*max(|A|,|B|);
      positional     — a match at 0-based prefix positions (pa, pb)
                       bounds the intersection by 1 + min(|A|-pa-1,
                       |B|-pb-1), which must reach ceil(t/(1+t) *
                       (|A|+|B|)) (the jac>=t overlap requirement).
    Both bounds are epsilon-relaxed so exact-threshold pairs are never
    pruned by float rounding; a pair survives if ANY shared prefix
    element passes (a superset of textbook PPJoin's first-match rule —
    sound, never drops a true pair).
    """
    # 64-bit shingle hashes, not text: same equality classes (collisions
    # negligible at 2^-64), far smaller shuffle rows.
    sh = doc_shingles(df, id_col, text_col, k).select(
        F.col(id_col).alias("id"), F.xxhash64("shingle").alias("shingle")
    )
    # global rarity order: (frequency asc, shingle) — computed with one
    # narrow agg and joined back (shuffle on shingle, same key as the
    # old inverted index but carrying counts, not pairs)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = sh.join(freq, "shingle")
    # arrs feeds THREE consumers (the prefix index and both array
    # re-attach joins); without a materialization the whole
    # tokenize -> shingle -> hash -> frequency-join -> sort pipeline
    # (including its two shuffles) re-executes per consumer — 8 inlined
    # scans and ZERO ReusedExchange even in the final adaptive plan
    # (round-9 audit). Above `materialize_min_docs` input rows ONE
    # local checkpoint replaces those 2 recomputations — the avoided
    # corpus passes dominate the single table write at scale. Below it
    # the recompute is cheaper than the checkpoint IO (measured at
    # sf0.1 under bench memory pressure: checkpointed exec regressed
    # 2.4 -> 3.5 s while an idle-host A/B favored the checkpoint —
    # either way the cost is minutes of small-corpus work, so the
    # probe keys the decision to where it matters). The same
    # size-probed pattern as perplexity_buckets' bucketing path.
    arrs = ranked.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("cnt", "shingle"))), lambda x: x["shingle"]
        ).alias("arr")
    )
    if (n_docs if n_docs is not None else df.count()) >= materialize_min_docs:
        arrs = arrs.localCheckpoint(eager=True)
    sz = F.size("arr")
    plen = (sz - F.ceil(sz * threshold) + 1).cast("int")
    # NARROW prefix index: (id, prefix-shingle) only. Carrying the full
    # array through the exploded prefix would ship O(|doc|^2) bytes per
    # document into the self-join shuffle (each prefix row would drag
    # the whole array); instead candidates dedup as bare (a, b) pairs
    # and the arrays re-attach afterwards with two narrow equi-joins on
    # id — the arrays move once per doc, not once per prefix element.
    pre = arrs.select(
        F.col("id"), sz.alias("sz"),
        F.posexplode(F.slice("arr", 1, plen)).alias("pos", "pshingle"),
    )
    eps = 1e-9
    sza, szb = F.col("sza"), F.col("szb")
    overlap_min = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (sza + szb) - eps
    )
    overlap_ub = 1 + F.least(sza - F.col("pa") - 1, szb - F.col("pb") - 1)
    cands = (
        pre.select(
            F.col("id").alias("a"), F.col("sz").alias("sza"),
            F.col("pos").alias("pa"), "pshingle",
        )
        .join(
            pre.select(
                F.col("id").alias("b"), F.col("sz").alias("szb"),
                F.col("pos").alias("pb"), "pshingle",
            ),
            "pshingle",
        )
        .filter(F.col("a") < F.col("b"))
        .filter(F.least(sza, szb) >= F.lit(threshold) * F.greatest(sza, szb) - eps)
        .filter(overlap_ub >= overlap_min)
        .select("a", "b")
        .distinct()
        .join(arrs.select(F.col("id").alias("a"), F.col("arr").alias("arr_a")), "a")
        .join(arrs.select(F.col("id").alias("b"), F.col("arr").alias("arr_b")), "b")
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        cands.withColumn("inter", inter)
        .withColumn(
            "jac",
            F.round(
                F.col("inter")
                / (F.size("arr_a") + F.size("arr_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jac") >= threshold)
        .select("a", "b", "jac")
    )


def contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_hits: int = 5,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Test-set decontamination: flag corpus documents sharing >=
    min_hits distinct k-gram shingles with a benchmark/eval set — the
    n-gram-overlap contamination check a training pipeline runs before
    training (as publicly described in the GPT-3/PaLM/Llama reports;
    production 13-gram variants differ only in k).

    Returns (id, n_grams, n_hit, contaminated) for every corpus doc
    with at least one k-gram.

    Scale: eval suites are small by nature, so the benchmark's distinct
    shingles BROADCAST and the corpus-side shingle table never shuffles
    for the join — the only shuffle is the per-doc groupBy. Pass
    broadcast_bench=False for an unusually large blocklist (AQE picks
    the join side). At 100 TB hash the shingle to int64 (xxhash64)
    before the join to shrink broadcast + agg rows; the text form here
    keeps oracle parity and the plan shape is identical.
    """
    dg = doc_shingles(docs, id_col, text_col, k)
    bg = (
        doc_shingles(bench, id_col, text_col, k)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_bench:
        bg = F.broadcast(bg)
    return (
        dg.join(bg, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_hit"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "n_hit",
            (F.col("n_hit") >= F.lit(min_hits)).alias("contaminated"),
        )
    )


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document: (id, simhash).

    Per-token 32-bit hash = first 8 hex chars of md5(token); each bit
    votes +1/-1 weighted by occurrence; sign of the vote sets the output
    bit. Pure expressions + one groupBy — fully distributed, and exactly
    reproducible in the SQL oracle. (The md5 is computed in its own
    projection BEFORE the 32-bit explode; folding it into per-bit agg
    expressions re-evaluates it 32x — aggs get no common-subexpression
    elimination.)
    """
    tok = _spread(df).select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    # 32 PARALLEL partial-agg columns instead of a 32-way bit explode
    # (round-11): the old shape multiplied the token stream 32x into the
    # shuffle and paid TWO aggregations ((id, b) then (id)). Round-12
    # (the A/B showed the r11 form ~0.85x at sf0.1): aggregate
    # expressions get NO common-subexpression elimination, so each of
    # the 32 votes re-ran its own instr-on-string nibble probe per
    # token row, and the 32 fat expressions bloated plan build. Now the
    # projection converts the 8 hex chars to ONE long (`h`, computed
    # once per row alongside the md5) and each vote is a two-op
    # shift/AND. Bit b of the old nibble order (char b//4+1, bit b%4 of
    # instr-1) is bit (7 - b//4)*4 + b%4 of h — the vote integers, the
    # v > 0 threshold per bit, and the packed result are bit-identical
    # to both earlier forms.
    # (round-12, second lesson, same as the r11 literal-matrix fix: each
    # vote is ONE parsed SQL string and the packed result another —
    # ~34 py4j calls instead of ~200 Column round-trips; measured build
    # 0.18 -> 0.08 s and exec 0.49 -> 0.45 s in-session. A single
    # array(sum...) aggregate was tried and REJECTED: build is lowest
    # but exec pays ~+0.1 s for the per-group array allocation.)
    tok = tok.withColumn(
        "h", F.expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)")
    )

    def _shift(b: int) -> int:
        return (7 - b // 4) * 4 + b % 4

    agg = tok.groupBy(id_col).agg(
        *[
            F.expr(f"sum((shiftright(h, {_shift(b)}) & 1) * 2 - 1)").alias(f"v{b}")
            for b in range(32)
        ]
    )
    packed = " + ".join(
        f"if(v{b} > 0, cast({1 << b} as bigint), cast(0 as bigint))"
        for b in range(32)
    )
    return agg.select(F.col(id_col), F.expr(packed).alias("simhash"))


def exact_substring_spans(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 50
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" §4.1): per document, the
    maximal token spans covered by some substring of >= ``min_len``
    tokens that occurs at least TWICE anywhere in the corpus (other
    documents or elsewhere in the same one) — the spans the paper's
    suffix-array pass removes. Returns (id, span_start, span_tokens),
    span_start 0-based in token space.

    This is the paper's suffix-array computation re-expressed as a
    distributed prefix-bucket partition instead of one global suffix
    array: the ``min_len``-gram starting at position i is the depth-L
    prefix of suffix i, so grouping gram occurrences is exactly
    partitioning the corpus suffix array into depth-L prefix groups —
    a gram with >= 2 occurrences marks a duplicated suffix-prefix, and
    the union of all duplicated substrings of length >= L equals the
    union of duplicated L-grams (any longer duplicate is covered by its
    L-windows). Consecutive duplicated starts then merge into maximal
    spans with the gaps-and-islands rewrite. EXACT by construction:
    grams group by their full text, not a hash, so there is no
    collision surface and a plain SQL oracle replays it verbatim.

    Shape at 100 TB (round-12, guide §2.3 narrower shuffle types): the
    occurrence-count shuffle — the only corpus-scale exchange — is keyed
    on xxhash64(gram) (8 bytes/row after map-side combine) instead of
    the >= ``min_len``-token gram TEXT (~hundreds of bytes/row). The
    result stays EXACT, not exact-modulo-collisions: hash groups with
    >= 2 occurrences are only CANDIDATES; the surviving (rare — a
    duplicated gram is a >= min_len-token exact repeat) occurrences are
    re-grouped by full gram text, so a collision can only add rows to
    the tiny candidate set, never mark a span. Gram build is map-side
    (transform+slice, zero Python); candidate marking is a join against
    the bounded duplicated-hash set (AQE broadcasts it when small,
    degrades to the old text-class shuffle only if nearly the whole
    corpus is duplicated); island merging runs under DOC-partitioned
    windows."""
    from pyspark.sql import Window

    L = min_len
    g = _spread(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(shingles(tokens(F.col(text_col)), L)).alias("i", "g"),
    )
    gh = g.withColumn("h", F.xxhash64(F.col("g")))
    dup_h = (
        gh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("h")
    )
    cand = gh.join(dup_h, "h")
    # exact re-verify on the candidate slice: per-TEXT counts drop any
    # hash-collision artifacts (candidates are rare, this is tiny)
    dupg = (
        cand.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("g")
    )
    dup = cand.join(dupg, "g").select("id", "i")
    w_ord = Window.partitionBy("id").orderBy("i")
    prev_end = F.max(F.col("i") + (L - 1)).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    ni = F.when(prev_end.isNull() | (F.col("i") > prev_end), 1).otherwise(0)
    islands = dup.withColumn("island", F.sum(ni).over(w_ord))
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("i").cast("long").alias("span_start"),
            (F.max("i") - F.min("i") + L).cast("long").alias("span_tokens"),
        )
        .select(F.col("id").alias(id_col), "span_start", "span_tokens")
    )


def bloom_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_hits: int = 5,
    m_bits: int = 1 << 16,
    n_hash: int = 4,
) -> DataFrame:
    """Bloom-filter test-set decontamination — the BROADCAST-BOUNDED
    variant of `contamination`: instead of broadcasting the benchmark's
    distinct k-gram strings (unbounded — a billion-gram blocklist is
    tens of GB of text), build an m-bit Bloom filter over them and
    probe corpus grams map-side. A gram counts as a (possibly false-
    positive) hit iff ALL ``n_hash`` of its bit positions are set; docs
    with >= min_hits flagged grams are contaminated — the conservative
    over-approximation a 100 TB pipeline actually ships (false
    positives only quarantine extra docs, never leak contamination).

    DETERMINISTIC by construction: position j of gram g is the first 8
    hex chars of md5(j || ':' || g) mod m_bits — reproducible in SQL,
    so the oracle replays the exact filter including its false
    positives (no probabilistic slack in the check).

    Shape at 100 TB: the set-bit table is AT MOST m_bits rows of one
    int (here 2^16; a production 2^33-bit/1 GB filter broadcasts as a
    bitmap) — independent of blocklist size, unlike `contamination`'s
    gram broadcast. Corpus-side: gram explode and position hashing are
    map-side projections, the membership join is broadcast (never
    shuffles the corpus), and the only shuffles are the two bounded
    per-(doc, gram)/per-doc aggs. Returns
    (id, n_grams, n_bloom_hit, contaminated)."""
    def positions(col):
        return F.array(
            *[
                (
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 8),
                        16,
                        10,
                    ).cast("long")
                    % m_bits
                )
                for j in range(n_hash)
            ]
        )

    bits = (
        doc_shingles(bench, id_col, text_col, k)
        .select("shingle")
        .distinct()
        .select(F.explode(positions(F.col("shingle"))).alias("pos"))
        .distinct()
        .withColumn("__in", F.lit(1))
    )
    probe = doc_shingles(docs, id_col, text_col, k).select(
        F.col(id_col), "shingle", F.explode(positions(F.col("shingle"))).alias("pos")
    )
    per_gram = (
        probe.join(F.broadcast(bits), "pos", "left")
        .groupBy(id_col, "shingle")
        .agg(F.min(F.coalesce("__in", F.lit(0))).alias("hit"))
    )
    return per_gram.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("hit").alias("n_bloom_hit"),
        (F.sum("hit") >= min_hits).alias("contaminated"),
    )


def exact_substring_clean(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 50
) -> DataFrame:
    """The REMOVAL pass of ExactSubstr dedup (Lee et al. 2022 §4.1):
    apply `exact_substring_spans` and emit each document with its
    duplicated spans cut out — (id, n_tokens, dup_tokens, clean_text),
    clean_text in normalized token space (lowercased, single-space
    joined, the tokenizer's equivalence class).

    Shape at 100 TB: the span table is tiny (only documents with a
    >= min_len-token exact repeat have rows); it groups to one
    span-array row per affected doc and joins back doc-keyed; the cut
    itself is a pure JVM higher-order projection (transform + filter
    over token indices) — no explode, no per-token shuffle, no
    Python."""
    spans = exact_substring_spans(df, id_col, text_col, min_len)
    spanarr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_tokens")).alias("spans")
    )
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("tk"))
    joined = base.join(spanarr, id_col, "left")
    idx = F.sequence(F.lit(0), F.size("tk") - 1)
    kept_idx = F.filter(
        idx,
        lambda i: ~F.exists(
            F.col("spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_start"] + s["span_tokens"]),
        ),
    )
    kept = F.when(F.col("spans").isNull(), F.col("tk")).otherwise(
        F.transform(kept_idx, lambda i: F.element_at("tk", (i + 1).cast("int")))
    )
    return joined.select(
        F.col(id_col),
        F.size("tk").cast("long").alias("n_tokens"),
        (F.size("tk") - F.size(kept)).cast("long").alias("dup_tokens"),
        F.array_join(kept, " ").alias("clean_text"),
    )
