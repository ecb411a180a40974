"""Join family (SURVEY.md §2.4).

Reference parity:
- Map-side merge join expression language ``inner(a,b,...)``/``outer(...)``/
  ``override(...)`` over key-aligned sources: CompositeInputFormat grammar
  (mapred/join/CompositeInputFormat.java:57-71), parser
  (mapred/join/Parser.java:64), merge driver (CompositeRecordReader.java:38).
  Here the expression is a tiny builder AST (``tbl``/``inner``/``outer``/
  ``override``) that *compiles to a DataFrame plan* — Catalyst picks
  sort-merge or broadcast physically. The reference's no-shuffle property
  (pre-partitioned, key-sorted inputs) is recovered at scale by writing the
  sources as bucketed tables (bucketBy(key).sortBy(key)) so the SMJ needs no
  exchange.
- inner: keys present in ALL sources, cross-product of per-key value lists
  (InnerJoinRecordReader.java:41) = chained inner equi-joins.
- outer: keys in ANY source, absent slots null in the TupleWritable
  (OuterJoinRecordReader.java:41) = chained full-outer USING joins (nullable
  columns stand in for the presence bitmask, TupleWritable.java:43).
- override: per key, values only from the RIGHTMOST source containing it;
  no cross-product (OverrideRecordReader.java:36,49,62) = tagged union +
  per-key max-priority filter (one shuffle, no join blow-up).
- Reduce-side tagged join with arbitrary residual predicate within the key
  group (contrib/data_join DataJoinReducerBase.java:174-214 joinAndCollect
  cartesian + user combine()) = equi-join on the key + ``where(residual)``.
- Map-side hash join against a DistributedCache'd small table
  (filecache/DistributedCache.java:77-83) = ``F.broadcast`` hash join.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KEY = "key"

# per-call suffix for the bloom-probe temp view (see
# bloom_prefilter_semi_join): itertools.count() is thread-safe under the
# GIL (a single atomic __next__), so concurrent builders never share a name
_BLOOM_VIEW_SEQ = itertools.count()


@dataclass(frozen=True)
class JoinExpr:
    """A node of the composite-join expression tree."""

    kind: str  # "tbl" | "inner" | "outer" | "override"
    children: tuple["JoinExpr", ...] = ()
    df: DataFrame | None = None
    value_cols: tuple[str, ...] = ()

    def compile(self) -> DataFrame:
        return _compile(self)

    @property
    def leaf_cols(self) -> tuple[str, ...]:
        if self.kind == "tbl":
            return self.value_cols
        return tuple(c for ch in self.children for c in ch.leaf_cols)


def tbl(df: DataFrame, key: Column | str, *value_cols: Column | str) -> JoinExpr:
    """Leaf source: ``tbl(Format, path)`` in the reference grammar. ``key``
    is aliased to the shared join-key column; value columns must be uniquely
    named across the whole expression."""
    key_col = F.col(key) if isinstance(key, str) else key
    vals = [F.col(c) if isinstance(c, str) else c for c in value_cols]
    out = df.select(key_col.alias(KEY), *vals)
    return JoinExpr("tbl", df=out, value_cols=tuple(out.columns[1:]))


def inner(*children: JoinExpr) -> JoinExpr:
    return JoinExpr("inner", children=children)


def outer(*children: JoinExpr) -> JoinExpr:
    return JoinExpr("outer", children=children)


def override(*children: JoinExpr) -> JoinExpr:
    return JoinExpr("override", children=children)


def _compile(node: JoinExpr) -> DataFrame:
    if node.kind == "tbl":
        return node.df
    cols = node.leaf_cols
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate value columns across sources: {cols}")
    kids = [_compile(ch) for ch in node.children]
    if node.kind in ("inner", "outer"):
        # Single-shuffle n-way merge: tagged union -> one groupBy(key)
        # gathering each source's rows as a list of structs -> explode the
        # lists back out (cross-product within the key, exactly the
        # TupleWritable iteration of InnerJoinRecordReader.java:41 /
        # OuterJoinRecordReader.java:41). A chained full-outer compilation
        # costs n-1 exchanges; this is ONE exchange regardless of n, and
        # the map-side partial collect_list keeps the shuffle rows tagged
        # (key, struct) — no wider than the inputs. Per-key state is the
        # key's row lists, the same working set the reference's
        # ResetableIterator holds; a pathological hot key is a skew problem
        # for both engines alike.
        parts = []
        for i, kid in enumerate(kids):
            vals = [c for c in kid.columns if c != KEY]
            parts.append(
                kid.select(F.col(KEY), F.struct(*vals).alias(f"_v{i}"))
            )
        unioned = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        # NULL keys never merge (SQL equi-join semantics; the groupBy
        # below would otherwise gather every NULL-keyed row from every
        # source into ONE group and cross-product them): inner drops
        # them, outer emits each as its own null-padded row (exactly a
        # chained FULL OUTER ... USING's treatment of NULL keys).
        null_keyed = unioned.where(F.col(KEY).isNull())
        unioned = unioned.where(F.col(KEY).isNotNull())
        # collect_list skips the NULL slots contributed by other sources'
        # union rows, so _l{i} is exactly source i's rows for the key.
        grouped = unioned.groupBy(KEY).agg(
            *[F.collect_list(f"_v{i}").alias(f"_l{i}") for i in range(len(kids))]
        )
        out = grouped
        for i in range(len(kids)):
            if node.kind == "inner":
                # explode of an empty list emits nothing -> keys missing
                # from any source vanish: inner semantics with no filter.
                out = out.withColumn(f"_e{i}", F.explode(f"_l{i}"))
            else:
                # explode_outer emits one NULL row for an empty list ->
                # absent slots null-pad: the TupleWritable presence mask.
                out = out.withColumn(f"_e{i}", F.explode_outer(f"_l{i}"))
        sel = [F.col(KEY)]
        for i, ch in enumerate(node.children):
            sel.extend(F.col(f"_e{i}.{c}").alias(c) for c in ch.leaf_cols)
        out = out.select(*sel)
        if node.kind == "outer":
            # One null-padded output row per NULL-keyed input row: the
            # union row already has exactly one non-null _v{i} struct, so
            # projecting every source's fields null-pads the rest.
            nsel = [F.col(KEY)]
            for i, ch in enumerate(node.children):
                nsel.extend(F.col(f"_v{i}.{c}").alias(c) for c in ch.leaf_cols)
            out = out.unionByName(null_keyed.select(*nsel))
        return out
    if node.kind == "override":
        # Tagged union + keep only rows of the highest-priority source per
        # key. Exactly the winner's rows survive — no cross-product, unlike
        # a join-based rewrite with duplicate keys.
        tagged = []
        for i, (kid, ch) in enumerate(zip(kids, node.children)):
            tagged.append(kid.withColumn("_src", F.lit(i)))
        unioned = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged
        )
        # NULL keys never merge here either: the window gathers every
        # NULL-keyed row into one partition, so the priority filter only
        # applies to real keys; NULL-keyed rows pass through from every
        # source (no override relationship without key equality).
        w = Window.partitionBy(KEY)
        return (
            unioned.withColumn("_max_src", F.max("_src").over(w))
            .filter(F.col(KEY).isNull() | (F.col("_src") == F.col("_max_src")))
            .select(KEY, *cols)
        )
    raise ValueError(f"unknown join expr kind {node.kind!r}")


def tagged_join(
    left: DataFrame,
    right: DataFrame,
    key,
    residual: Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """Reduce-side tagged join: group both tagged inputs by the join key,
    cartesian within the key group, keep pairs passing the residual predicate
    (DataJoinReducerBase.joinAndCollect:174-214 + combine()). Spark's shuffled
    equi-join IS that regrouping; the residual is a post-join filter that
    Catalyst evaluates inside the join when possible."""
    joined = left.join(right, on=key, how=how)
    return joined.where(residual) if residual is not None else joined


def broadcast_hash_join(big: DataFrame, small: DataFrame, key, how: str = "inner") -> DataFrame:
    """DistributedCache map-side hash join: ship the small table to every
    task, stream the big side with no shuffle (DistributedCache.java:77-83)."""
    return big.join(F.broadcast(small), on=key, how=how)


# ---------------------------------------------------------------------------
# Bloom-filter semi-join prefilter (a hand-built runtime filter)
# ---------------------------------------------------------------------------

BLOOM_WORDS = 512  # filter size in 32-bit words (tunable per call)
BLOOM_HASHES = 3
_WORD_BITS = 32  # 32-bit words: an 8-hex-char word always fits a signed
#                  long after conv(), so no sign-overflow edge at bit 63


def _bloom_positions(key: Column, m_bits: int, h: int) -> list[Column]:
    """h independent bit positions for a key via seeded xxhash64 over the
    STRING-cast key — the cheap JVM hash, NOT the md5 idiom: the bloom
    filter is internal plan state (build and probe use the same family
    within one query), so cross-engine portability buys nothing here,
    while md5 (digest + hex + conv parse) was the dominant probe cost at
    scan speed (swapping to xxhash64 cut the sf0.1 prefilter scan
    2.46 -> ~1.1 s). The string cast is LOAD-BEARING, not a leftover:
    xxhash64 hashes an int via 4 bytes and a bigint via 8, so raw-typed
    hashing would produce systematic FALSE NEGATIVES — silently dropped
    true matches the verify join cannot resurrect — whenever the build
    and probe key types differ (int vs bigint, string vs numeric); the
    cast canonicalizes both sides the way md5(cast) always did
    (regression: test_bloom_prefilter_mixed_key_types). pmod because
    xxhash64 is signed."""
    return [
        F.pmod(F.xxhash64(F.lit(i), key.cast("string")), F.lit(m_bits)).cast(
            "long"
        )
        for i in range(h)
    ]


def bloom_prefilter_semi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    m_words: int | None = None,
    h: int = BLOOM_HASHES,
) -> DataFrame:
    """Semi-join ``big`` to ``small`` on ``key`` with a bloom-filter
    prefilter: EXACT output (a verifying broadcast semi-join runs after
    the filter — bloom false positives never escape), but the big side
    is cut down by the filter BEFORE the join, which is the point at
    scale: when the small side is too large to broadcast, the verify
    join must shuffle both sides, and the bloom prefilter shrinks the
    big side's shuffle to ~selectivity + FP-rate of its rows for the
    cost of broadcasting m_words*4 bytes. This is Spark's own runtime
    row-level filtering (spark.sql.optimizer.runtime.bloomFilter.*)
    made explicit and portable; the reference's analog is the
    BloomMapFile membership test (io/BloomMapFile.java:79) applied
    manually on the map side.

    Build: one aggregation of the small side's h bit positions into
    ≤ m_words (word_index, or-mask) rows, read to the driver (bounded:
    the filter is summary state — the DistributedCache discipline).

    Probe (r14): the word array rides as a ONE-ROW BROADCAST RELATION
    crossJoined onto the big side (the repo's broadcast-scalar pattern —
    pagerank's dangling mass, the autocap work budgets), probed with
    element_at on the ``_bloom_bf`` attribute. The r5 form embedded the
    words as a CreateArray literal with m_words children, which was fine
    at 2^14 words but quadratic-feeling at the 2^16 cap: analyzer passes
    walk the children PER PROBE REFERENCE (~10 s of plan time at sf1)
    and the serialized plan ships ~0.5 MB to every task (sf1 probe scan
    ~11 s). The 1-row relation moves the same bytes once via broadcast:
    measured sf1 21 s -> 4.6 s, sf0.1 3.1 -> 2.2 s end-to-end, identical
    filter bits and identical output. (A hex-string literal probed with
    substr+conv was 14x slower still — r5 measurement, unchanged.)

    ``m_words=None`` (default) sizes the filter from the small side's
    distinct key count at ~16 bits/key (FP rate ~0.5% at h=3) in the
    same single build job (see _bloom_build_auto), capped at 2^16 words.
    A fixed m_words that under-sizes the filter saturates it into a
    pass-through — still exact, just useless (r5 bench caught exactly
    that at 512 words vs 30k keys).

    The final semi-join uses the (unfiltered) small side, so the result
    is exactly ``big ⋉ small`` regardless of m_words/h tuning.

    r14: the verify join broadcasts the raw key projection, not
    ``distinct()`` of it — semi-join semantics are duplicate-safe (a big
    row matches iff >= 1 build row exists), and the distinct cost a full
    exchange + aggregate inside the probe plan (guide §2.4: a distinct
    on data that is already unique is an accidental shuffle). A small
    side with heavily duplicated keys should pre-distinct itself before
    calling (the broadcast hash relation stores every build row).

    Classic (py4j) sessions only: the probe reads the filter words from a
    temp view that is dropped as soon as the plan is built, which relies
    on classic DataFrames analyzing eagerly (the analyzed plan inlines the
    view's LocalRelation). A Spark Connect DataFrame is an unresolved plan
    that the server analyzes at execution, after the view is gone, so
    this function does not work under Spark Connect."""
    if m_words is None:
        m_words, filt = _bloom_build_auto(small, key, h)
    else:
        filt = _bloom_build_fixed(small, key, m_words, h)
    spark = small.sparkSession
    # one-row relation + SCALAR SUBQUERY probe — the shape Spark's own
    # runtime bloom filter injects (Filter[might_contain(scalar-subquery,
    # ...)] pushed at the scan). A broadcast crossJoin carrying the word
    # array was tried first and the optimizer pushed the verify semi-join
    # BELOW it (PushDownLeftSemiAntiJoin — semi references only big-side
    # columns), turning the prefilter decorative; a subquery inside the
    # filter cannot be reordered above the join.
    # r15 (round-14 ADVICE): the view name is UNIQUE PER CALL and the view
    # is dropped once the plan is built. The r14 form reused one global
    # name ('hadoop1_bloom_bf'): sequential builds were safe only because
    # DataFrame analysis resolves the view eagerly, but two prefilters
    # built CONCURRENTLY (threaded builders — the pq_codes pattern) could
    # race create-vs-analyze and probe each other's bits, and bloom false
    # NEGATIVES silently drop rows the verify semi-join cannot recover.
    # Dropping after construction is safe for the same eager-analysis
    # reason: the analyzed plan inlines the view's LocalRelation.
    view = f"hadoop1_bloom_bf_{next(_BLOOM_VIEW_SEQ)}"
    spark.createDataFrame([(filt,)], "_bloom_bf array<bigint>") \
        .createOrReplaceTempView(view)
    try:
        cond = F.expr(
            _bloom_probe_sql(
                f"(select _bloom_bf from {view})",
                key,
                m_words * _WORD_BITS,
                h,
            )
        )
        prefiltered = big.where(F.col(key).isNotNull() & cond)
        return prefiltered.join(
            F.broadcast(small.select(key)), key, "left_semi"
        )
    finally:
        spark.catalog.dropTempView(view)


def _bloom_build_auto(
    small: DataFrame, key: str, h: int
) -> tuple[int, list[int]]:
    """ONE-job auto-sized bloom build -> (m_words, word list).

    Masks are aggregated at the 2^16-word CAP size over the DISTINCT
    keys; the key count rides along in the same aggregation (explode of
    an h-element array emits exactly h position rows per distinct key,
    so n_keys = total_rows div h, exactly) and the driver folds the
    capped masks down to the derived size — exact, because all sizes are
    powers of two and power-of-two moduli nest: p mod 2^s ==
    (p mod 2^21) mod 2^s. Bit-identical to the r5 two-job build
    (distinct-count job, then masks at the derived size), pinned by
    test_bloom_build_single_job_bit_identical.

    Cap rationale (r5, unchanged): beyond 2^16 words (2 Mbit, ~640 KB of
    parsed array text) the plan carries the array once per probe and
    parse/codegen cost grows super-linearly (13x at the sf1 probe with a
    2^18-word literal); past the cap the FP rate rises gracefully
    (~4.5% at 300k keys) — still selective, plan stays cheap. A truly
    huge small side should use Spark's own runtime bloom or a
    pre-materialized filter relation."""
    cap_words = 1 << 16
    cap_bits = cap_words * _WORD_BITS
    pos = F.explode(
        F.array(*_bloom_positions(F.col(key), cap_bits, h))
    ).alias("_pos")
    rows = (
        small.where(F.col(key).isNotNull())
        .select(key)
        .distinct()
        .select(pos)
        .select(
            F.expr(f"_pos div {_WORD_BITS}").cast("int").alias("_w"),
            # 2^(pos % 32) as exact integer arithmetic (pow of 2 is exact
            # in double up to 2^31; F.shiftleft only takes int shifts)
            F.pow(F.lit(2.0), (F.col("_pos") % _WORD_BITS).cast("double"))
            .cast("long")
            .alias("_m"),
        )
        .groupBy("_w")
        .agg(
            F.expr("bit_or(_m)").alias("_mask"),
            F.count(F.lit(1)).alias("_n"),
        )
        .collect()
    )
    n_keys = sum(r["_n"] for r in rows) // h
    want_bits = max(BLOOM_WORDS * _WORD_BITS, 16 * max(n_keys, 1))
    m_words = 1
    while m_words * _WORD_BITS < want_bits:
        m_words *= 2
    m_words = min(m_words, cap_words)
    m_bits = m_words * _WORD_BITS
    filt = [0] * m_words
    if m_words == cap_words:
        for r in rows:
            filt[r["_w"]] = r["_mask"]
    else:
        # fold the capped masks down to the derived size: each set bit at
        # capped position p lands at p mod m_bits (exact — nested
        # power-of-two moduli). Bounded driver work: <= h * n_keys set
        # bits, and this branch only runs when n_keys < 2^17 (larger key
        # sets saturate to the cap above).
        for r in rows:
            base, mask = r["_w"] * _WORD_BITS, r["_mask"]
            while mask:
                lsb = mask & -mask
                p = (base + lsb.bit_length() - 1) % m_bits
                filt[p // _WORD_BITS] |= 1 << (p % _WORD_BITS)
                mask ^= lsb
    return m_words, filt


def bloom_condition(
    small: DataFrame,
    key: str,
    m_words: int | None = None,
    h: int = BLOOM_HASHES,
) -> Column:
    """Build the bloom filter from ``small[key]`` and return the probe
    predicate over a column of the same name — the reusable half of
    bloom_prefilter_semi_join (exposed so tests can measure the
    prefilter's selectivity and callers can push the predicate into
    other plans). m_words=None auto-sizes from the distinct key count.

    r14 (guide §2.4, remove passes): the auto-sized path used to run TWO
    blocking jobs over the small side — a distinct-count to size the
    filter, then the mask aggregation at that size. It now runs ONE:
    masks are aggregated at the 2^16-word CAP size over the distinct
    keys, the key count rides along in the same aggregation (explode of
    an h-element array emits exactly h position rows per distinct key,
    so n_keys = total_rows div h, exactly), and the driver folds the
    capped masks down to the derived size — exact, because the sizes are
    all powers of two and power-of-two moduli nest: p mod 2^s ==
    (p mod 2^21) mod 2^s. Bit-identical filter to the two-job build
    (pinned by test_bloom_build_single_job_bit_identical)."""
    if m_words is None:
        m_words, filt = _bloom_build_auto(small, key, h)
    else:
        filt = _bloom_build_fixed(small, key, m_words, h)
    # the whole filter as ONE array literal (constant-folded in the plan,
    # O(1) vector access per probe — never a string slice, which defeats
    # the cheap constant path, measured 14x slower). Built by PARSING a
    # SQL array(...) text rather than F.lit(list): py4j converts a Python
    # list element-by-element (~8 s for 16k words); the parser takes the
    # whole text in one call and ConstantFolding collapses it to the same
    # Literal. NOTE (r14): analyzer passes walk the literal's children
    # once PER PROBE REFERENCE, so this Column form costs ~seconds of
    # plan time at the 2^16-word cap — fine for the small fixed filters
    # tests build, wrong for the semi-join hot path, which rides the
    # filter as a 1-row broadcast relation instead (see
    # bloom_prefilter_semi_join).
    blit = F.expr("array(" + ",".join(f"{w}L" for w in filt) + ")")
    return _bloom_probe_cond(blit, key, m_words * _WORD_BITS, h)


def _bloom_build_fixed(
    small: DataFrame, key: str, m_words: int, h: int
) -> list[int]:
    """Mask aggregation at an EXPLICIT filter size -> word list (the
    pre-r14 build shape, kept for callers that pin m_words — tests
    exercising saturation, callers with a known key budget)."""
    m_bits = m_words * _WORD_BITS
    pos = F.explode(
        F.array(*_bloom_positions(F.col(key), m_bits, h))
    ).alias("_pos")
    words = (
        small.where(F.col(key).isNotNull())
        .select(pos)
        .select(
            F.expr(f"_pos div {_WORD_BITS}").cast("int").alias("_w"),
            F.pow(F.lit(2.0), (F.col("_pos") % _WORD_BITS).cast("double"))
            .cast("long")
            .alias("_m"),
        )
        .groupBy("_w")
        .agg(F.expr("bit_or(_m)").alias("_mask"))
        .collect()
    )
    filt = [0] * m_words
    for r in words:
        filt[r["_w"]] = r["_mask"]
    return filt


def _bloom_probe_cond(bf: Column, key: str, m_bits: int, h: int) -> Column:
    """The h-position membership test over ``bf`` — any array<bigint>
    source (bloom_condition passes the constant-folded literal)."""
    probes = []
    for p in _bloom_positions(F.col(key), m_bits, h):
        w = F.floor(p / _WORD_BITS).cast("int")
        b = (p % _WORD_BITS).cast("double")
        word = F.element_at(bf, w + 1)
        # bit test without column-shift support: word div 2^b is exact
        # (power-of-two division only moves the exponent), then mod 2
        probes.append(
            F.floor(word / F.pow(F.lit(2.0), b)).cast("long") % 2 == 1
        )
    cond = probes[0]
    for pr in probes[1:]:
        cond = cond & pr
    return cond


def _bloom_probe_sql(bf_sql: str, key: str, m_bits: int, h: int) -> str:
    """SQL-text twin of _bloom_probe_cond — same positions (seeded
    xxhash64 over the string-cast key), same exact power-of-two
    arithmetic — for probe sources that must be SQL fragments (the
    scalar-subquery form in bloom_prefilter_semi_join). The key is
    backtick-quoted AND escaped (round-14 ADVICE: a name containing a
    backtick would otherwise break out of the quoting)."""
    ident = "`" + key.replace("`", "``") + "`"
    probes = []
    for i in range(h):
        p = f"pmod(xxhash64({i}, cast({ident} as string)), {m_bits})"
        word = f"element_at({bf_sql}, cast({p} div {_WORD_BITS} as int) + 1)"
        probes.append(
            f"(cast(floor(cast({word} as double) / "
            f"pow(cast(2.0 as double), cast({p} % {_WORD_BITS} as double)))"
            f" as bigint) % 2) = 1"
        )
    return " AND ".join(f"({pr})" for pr in probes)
