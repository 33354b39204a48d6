"""Partitioned Bloom-filter URL-seen prefilter (the north-rule's
"bloom/cuckoo URL-seen set"; SURVEY §4.2's Bloom/anti-join split).

A Bloom filter admits false positives, so it can never BE the seen
set — exactness always comes from the anti-join (What's-hard #2).  What
it can do is shrink the anti-join's input: a candidate whose k bits are
not all set has DEFINITELY never been enqueued and skips the exact
check entirely; only maybe-seen candidates (true dups + the fp rate)
touch the seen table.  Early crawl rounds — where most discovered
links are new — skip almost everything; late rounds degrade to the
plain anti-join, never below it.

Layout (designed for 10^10 URLs, tested tiny):

* the filter is PARTITIONED by url-hash bucket — one row per bucket,
  ``(bucket INT, words ARRAY<BIGINT>)`` with a fixed ``m_bits`` bit
  array per bucket (dense: index arithmetic needs no lookups).  At 10
  bits/url a 10^10-URL filter is ~12 GB — far too big to broadcast
  whole, but per-bucket rows join co-partitioned on the SAME bucket
  exchange the bucketed anti-join already pays; below the broadcast
  threshold (any sandbox run) the whole table broadcasts and the test
  is map-side.
* built INCREMENTALLY: each round ORs the delta-bloom of its newly
  seen urls into the previous snapshot (``zip_with(bitwiseOR)`` per
  bucket) — build cost ∝ round delta, never ∝ |seen| — and commits the
  merged filter as a numbered snapshot like every other table, so
  resume heals it from frontier history exactly like the seen table.
* membership math is plain SQL (xxhash64 double hashing,
  ``pos_i = (h1 + i·h2) mod m``), evaluated inside whole-stage codegen
  on both the build and probe sides; all intermediates < 2^31·k, ANSI
  overflow-safe.

Bloom over cuckoo: the seen set only ever grows (no deletes), inserts
are bulk/batched, and the or-merge of two Bloom arrays is associative
— which is what makes the incremental snapshot protocol one zip_with.
A cuckoo filter's displacement loops would need row-level state.

Resizing (r7): the filter is GENERATION-CHAINED (scalable Bloom) —
when the auto sizer steps m, new deltas open a new generation at the
new size (rows keyed by their own ``m_bits``) and the probe consults
every generation, so a resize costs O(new-delta) instead of a full
frontier-history rescan; see :func:`split_maybe_chained` and
``crawl.fold_bloom``.  A single-generation filter is the classic
one-array Bloom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# second-hash differentiator: xxhash64(url, _SEED2) is an independent
# digest of the same url (the tuple hashes, not the column alone)
_SEED2 = 0x9E3779B9
# bucket digest seed: the bucket must NOT be derived from the same
# unseeded xxhash64 as h1 (their low bits would correlate, skewing the
# per-bucket fp rate — r4 advice)
_SEED3 = 0x85EBCA6B

# bump when the hash/layout math changes: persisted alongside
# (m_bits, k, n_buckets) in every snapshot row, so _ensure_bloom
# discards and rebuilds a filter whose stored math differs from the
# running code instead of OR-merging incompatible bit patterns
_BLOOM_FMT = 2

BLOOM_TABLE = "seen_bloom"
_PARAM_COLS = ("m_bits", "k", "n_buckets", "fmt")


def bucket_expr(url_col: str, n_buckets: int) -> str:
    return (
        f"CAST(pmod(xxhash64({url_col}, {_SEED3}L), {n_buckets}) AS INT)"
    )


def _pos_sql(url_col: str, i: int, m_bits: int) -> str:
    """SQL for the i-th Bloom bit position of a url: classic double
    hashing with h2 forced ODD (``1 + 2·pmod(·, m/2)``) — an even or
    zero h2 against a power-of-two m collapses the k probes onto a
    short cycle (h2=0: ONE effective bit per url); odd h2 is coprime
    with m so the k positions are distinct.  Every intermediate is
    already reduced mod m (sums stay under k·m < 2^35 — ANSI-safe)."""
    h1 = f"pmod(xxhash64({url_col}), {m_bits})"
    h2 = f"(1 + 2 * pmod(xxhash64({url_col}, {_SEED2}L), {m_bits // 2}))"
    return f"pmod({h1} + {i} * {h2}, {m_bits})"


def bloom_delta(
    urls: DataFrame, n_buckets: int, m_bits: int, k: int,
    url_col: str = "url",
) -> DataFrame:
    """(bucket, words[m_bits/64]) — the dense per-bucket Bloom arrays
    of one url delta.  Explode k positions per url → or-fold masks per
    word → densify per bucket; one shuffle of 8-byte (bucket, word)
    pairs, ~k·|delta| rows."""
    m_words = m_bits // 64
    pos = F.explode(F.array(*[
        F.expr(_pos_sql(url_col, i, m_bits)) for i in range(k)
    ])).alias("pos")
    sparse = (
        urls.select(F.expr(bucket_expr(url_col, n_buckets)).alias("bucket"), pos)
        .select(
            "bucket",
            F.expr("CAST(pos DIV 64 AS INT)").alias("word_idx"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("bucket", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    # densify in O(entries + m_words): the sorted nonzero entries
    # become runs of zeros + one word each, flattened.  The r4 shape —
    # map_from_entries + try_element_at per slot — was O(m_words ×
    # entries) PER BUCKET because Spark's map lookup on
    # ArrayBasedMapData is a LINEAR scan (no hash index): invisible at
    # the 2^16 floor, ~100 s/round once auto-sizing steps m to 2^20
    # (measured r7, 60k-page crawl, local[16]).  element_at on a
    # sorted ARRAY is O(1) positional access, so this build touches
    # every entry once and allocates exactly m_words zeros.
    dense = sparse.groupBy("bucket").agg(
        F.array_sort(
            F.collect_list(F.struct("word_idx", "word"))
        ).alias("es")
    )
    runs = f"""
      flatten(transform(sequence(0, size(es)), j ->
        CASE WHEN j < size(es) THEN
          concat(
            array_repeat(0L,
              element_at(es, j + 1).word_idx -
              (CASE WHEN j = 0 THEN 0
                    ELSE element_at(es, j).word_idx + 1 END)),
            array(element_at(es, j + 1).word))
        ELSE
          array_repeat(0L, {m_words} -
            (CASE WHEN size(es) = 0 THEN 0
                  ELSE element_at(es, size(es)).word_idx + 1 END))
        END))
    """
    return dense.select(
        "bucket",
        F.expr(runs).alias("words"),
        # build parameters ride along in every snapshot row (constant,
        # a few bytes after parquet RLE): _ensure_bloom refuses to
        # OR-merge a snapshot whose stored (m_bits, k, n_buckets, fmt)
        # differ from the running config — mismatched params turn into
        # Bloom FALSE NEGATIVES (NULL-padded zip_with words, probes of
        # never-set bits), which would silently break exactness
        F.lit(m_bits).alias("m_bits"),
        F.lit(k).alias("k"),
        F.lit(n_buckets).alias("n_buckets"),
        F.lit(_BLOOM_FMT).alias("fmt"),
    )


def bloom_merge_gens(frames: list[DataFrame]) -> DataFrame:
    """OR-merge bloom tables that may span several GENERATIONS (rows
    with different ``m_bits``): arrays only ever fold within their own
    (bucket, m_bits) group — cross-m zip_with would NULL-pad the short
    array and manufacture false negatives.  The fold seeds from the
    group's first array instead of a synthetic zero vector, so no
    caller-supplied m is needed."""
    allf = frames[0]
    for f in frames[1:]:
        allf = allf.unionByName(f)
    grouped = allf.groupBy("bucket", "m_bits").agg(
        F.collect_list("words").alias("ws"),
        *[F.min(c).alias(c) for c in _PARAM_COLS if c != "m_bits"],
    )
    return grouped.select(
        "bucket",
        F.aggregate(
            F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
            F.element_at("ws", 1),
            lambda acc, w: F.zip_with(acc, w, lambda a, b: a.bitwiseOR(b)),
        ).alias("words"),
        *_PARAM_COLS,
    )


def chain_params_match(bloom_df: DataFrame, n_buckets: int, k: int) -> bool:
    """True iff a committed bloom snapshot can be EXTENDED as a
    generation chain: every row's (k, n_buckets, fmt) matches the
    running config — ``m_bits`` is free per generation, that is the
    point of the chain.  A k/bucketing/hash-format change still forces
    the full rebuild (those alter bit positions within a generation).
    One driver-side read of ≤ n_buckets·generations tiny rows —
    resume-time only."""
    if not set(_PARAM_COLS) <= set(bloom_df.columns):
        return False
    rows = (bloom_df.select("k", "n_buckets", "fmt").distinct()
            .limit(4).collect())
    if not rows:  # empty filter: vacuously compatible
        return True
    return (len(rows) == 1 and rows[0]["k"] == k
            and rows[0]["n_buckets"] == n_buckets
            and rows[0]["fmt"] == _BLOOM_FMT)


# ---- generation-chained probe (r7) ---------------------------------
#
# A chained filter holds one bit array per (bucket, GENERATION): when
# the auto-sizer steps m, new deltas open a new generation at the new
# size instead of rebuilding the whole filter from frontier history —
# a resize is O(new-delta), the scalable-Bloom construction (Almeida
# et al. 2007).  A url is maybe-seen iff ANY generation says so; it is
# definitely-new only when EVERY generation that could hold it clears
# a bit.  No false negatives: every inserted url set its bits in
# exactly one generation, which the probe always consults.  The fp
# rate is the SUM over generations — bounded, because pow-4 sizing
# means each older generation holds ≥4× fewer urls per bit than the
# current one; fold_bloom() (maintenance, not the resize path)
# collapses the chain back to one generation when that sum matters.


def _maybe_seen_chained_sql(gens_col: str, h1_col: str, h2_col: str,
                            k: int) -> str:
    """SQL boolean over ``gens_col`` = array<struct<m_bits, words>>:
    EXISTS a generation with all k bits set.  ``h1_col``/``h2_col``
    must be pre-materialized raw xxhash64 columns — referencing
    xxhash64(url) inside the lambda would re-hash once per generation
    (the r3 per-element CSE trap); mod-m reduction is the only
    per-generation math."""
    tests = []
    for i in range(k):
        # h2 forced odd AGAINST THIS GENERATION'S m (see _pos_sql)
        pos = (f"pmod(pmod({h1_col}, g.m_bits) + {i} * "
               f"(1 + 2 * pmod({h2_col}, g.m_bits DIV 2)), g.m_bits)")
        tests.append(
            f"((element_at(g.words, CAST(({pos}) DIV 64 AS INT) + 1)"
            f" >> CAST(({pos}) % 64 AS INT)) & 1) = 1"
        )
    return (f"coalesce(exists({gens_col}, g -> "
            + " AND ".join(tests) + "), false)")


def split_maybe_chained(
    candidates: DataFrame, bloom: DataFrame,
    n_buckets: int, k: int, url_col: str = "url",
) -> tuple[DataFrame, DataFrame]:
    """(definitely_new, maybe_seen) over a generation-chained bloom
    (rows spanning ≥1 distinct ``m_bits``).  The generations of a
    bucket are gathered into ONE row (array of <m_bits, words>
    structs), so the candidate side still pays a single join no matter
    how many resizes the crawl has been through; the probe tests
    k·generations bits per row, all inside codegen.  With a single
    generation this is the classic single-array Bloom probe.

    The Bloom only ROUTES rows, it never decides membership: a
    candidate with any probe bit clear in every generation (or no
    bloom row for its bucket) has definitely never been enqueued; the
    rest — true dups + the fp rate — must take the exact check."""
    if k <= 0 or n_buckets <= 0:
        raise ValueError(
            f"split_maybe_chained needs positive bloom params, got "
            f"k={k} n_buckets={n_buckets}")
    gens = bloom.groupBy("bucket").agg(
        F.collect_list(F.struct("m_bits", "words")).alias("_gens")
    )
    cb = candidates.withColumn(
        "_bloom_bucket", F.expr(bucket_expr(url_col, n_buckets))
    ).withColumn(
        "_h1raw", F.expr(f"xxhash64({url_col})")
    ).withColumn(
        "_h2raw", F.expr(f"xxhash64({url_col}, {_SEED2}L)")
    )
    jb = cb.join(
        gens.withColumnRenamed("bucket", "_bloom_bucket"),
        "_bloom_bucket", "left",
    ).withColumn(
        "_maybe",
        F.expr(_maybe_seen_chained_sql("_gens", "_h1raw", "_h2raw", k)),
    )
    drop = ["_bloom_bucket", "_h1raw", "_h2raw", "_gens", "_maybe"]
    definitely_new = jb.filter(~F.col("_maybe")).drop(*drop)
    maybe = jb.filter(F.col("_maybe")).drop(*drop)
    return definitely_new, maybe


def prefilter_new_chained(
    candidates: DataFrame, bloom: DataFrame, seen: DataFrame,
    n_buckets: int, k: int, url_col: str = "url",
) -> DataFrame:
    """The F8 split over the seen table: definitely-new candidates pass
    straight through; maybe-seen candidates anti-join the exact seen
    table.  Result set is EXACTLY ``candidates ANTI seen`` — the chain
    only routes."""
    definitely_new, maybe = split_maybe_chained(
        candidates, bloom, n_buckets, k, url_col
    )
    return definitely_new.unionByName(
        maybe.join(seen, url_col, "left_anti")
    )
