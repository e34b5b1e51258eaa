package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Reusable Column builders. Everything here composes Spark built-in
  * (codegen'd) functions — no UDFs — so every operator that uses them
  * stays inside WholeStageCodegen and is safe at 100 TB scale.
  *
  * Cross-engine determinism rules (the DuckDB oracle hash-compares):
  *  - money/measure aggregates are rounded to integer cents PER ROW and
  *    summed as BIGINT (exact, associative — immune to Spark's
  *    partition-order-dependent double summation);
  *  - ratios/similarities are emitted as scaled integers (per-mille /
  *    micro-units), never raw doubles;
  *  - timestamps are emitted as epoch micros (BIGINT), never TIMESTAMP.
  */
object Fns {

  /** Per-row exact cents: round(x*100) as BIGINT. Deterministic across
    * engines (same IEEE double multiply, half-up rounding on positives
    * and half-away-from-zero on negatives agree between Spark/DuckDB). */
  def cents(c: Column): Column = round(c * lit(100)).cast(LongType)

  /** Scaled-integer representation of a double in [0,1]-ish range. */
  def scaled(c: Column, factor: Long): Column =
    round(c * lit(factor)).cast(LongType)

  def str(c: Column): Column = c.cast("string")

  /** Consistent-sampling hash of a BIGINT id: Knuth multiplicative
    * ((x mod p)·2654435761) mod p with p = 10⁹+7 — pure integer
    * arithmetic the DuckDB oracle reproduces exactly, and (x mod p) < 2³⁰
    * keeps the product below 2⁶² (no ANSI overflow). Samplers gate on
    * `consistentHash(id) % 1000` thresholds; seeds take its bottom-k. */
  def consistentHash(x: Column): Column =
    (x % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L)

  /** Whitespace tokens of a trimmed text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** The canonical normalization (lowercase, strip non-alphanumerics,
    * collapse whitespace) — ONE definition for every consumer
    * (text_normalize, normalized dedup, the pipelines, dedup_report),
    * mirrored verbatim by the oracle SQL: a drifted copy would silently
    * split the dedup universe. */
  def normText(text: Column): Column =
    regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " ")

  /** n-gram word shingles: distinct space-joined n-token windows.
    * transform over an index sequence + slice — all higher-order
    * built-ins, fully codegen'd, narrow (no shuffle). */
  def shingles(words: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(words) - lit(n - 1), lit(1))),
        i => array_join(slice(words, i, lit(n)), " ")))

  /** Distinct 64-bit hashes of the n-token shingle windows, WITHOUT
    * building shingle strings: xxhash64 over the n tokens directly.
    * Triple equality ↔ hash equality (collision odds ~2^-64), so set
    * operations on these hashes equal set operations on the string
    * shingles — at a third of the cost (no per-window string concat).
    *
    * Docs with fewer than n tokens get one truncated-window hash:
    * try_element_at returns NULL past the array end (plain element_at
    * throws under ANSI mode) and xxhash64 skips NULL inputs, so the
    * hash covers exactly the available tokens — mirroring the one
    * short shingle `shingles()` emits for the same doc. */
  def shingleHashes(words: Column, n: Int): Column =
    array_distinct(shingleHashesOrdered(words, n))

  /** POSITION-ORDERED n-gram window hashes (no distinct) — winnowing
    * needs the document-order sequence to slide its selection window
    * over. */
  def shingleHashesOrdered(words: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(words) - lit(n - 1), lit(1))),
      i => xxhash64((0 until n).map(j => try_element_at(words, i + lit(j))): _*))

  /** Per-element seeded hash for MinHash: xxhash64(value, seed). Kept
    * for the STREAMING admission path (signatures never leave the
    * in-state registry, so replayability buys nothing there); the
    * batch MinHash family below is the oracle-replayable one, and its
    * k-wide signature is one native per-row loop ([[minhashSig]]). */
  def seededHash(c: Column, seed: Int): Column = xxhash64(c, lit(seed))

  /** Top-60-bit md5 of a column as a positive BIGINT — the
    * cross-engine-replayable hash basis (DuckDB:
    * `('0x' || substr(md5(x),1,15))::BIGINT`), same construct as
    * [[rollingFingerprint]]'s per-token hash. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast(LongType)

  /** [[md5Hash60]] reduced mod 2^31 — small enough that an affine
    * permutation `(a*h+b) mod p` stays far below 2^63 under ANSI. */
  def md5Hash31(c: Column): Column = pmod(md5Hash60(c), lit(1L << 31))

  /** Distinct md5-based hashes of the n-token shingle windows — the
    * replayable sibling of [[shingleHashes]]: hashes the space-JOINED
    * window string (md5 has no multi-arg form), values in [0, 2^31).
    * ~10× the per-window hash cost of xxhash64 — used only where the
    * hash VALUES shape the gated output (MinHash permutation mins);
    * set-overlap ops keep the cheap opaque hashes. */
  def shingleMd5Hashes(words: Column, n: Int): Column =
    array_distinct(transform(shingleMd5HashesOrdered(words, n),
      h => pmod(h, lit(1L << 31))))

  /** POSITION-ORDERED md5 window hashes (no distinct, full 60 bits) —
    * winnowing's replayable window sequence.
    *
    * Measured dead end (r11, do not retry): per-token md5 + a
    * polynomial `aggregate()` fold per window — "one md5 per token
    * instead of one per window" — came out ~80% SLOWER at sf0.1
    * (winnowing 1.25→2.22 s, minhash_lsh 0.96→1.70 s): the lambda
    * fold evaluates outside whole-stage codegen and loses to the
    * codegen'd concat+md5 it replaces. substringDedup keeps that
    * recipe because its windows are LONG (w=8) and its fold output
    * feeds an explode anyway. */
  def shingleMd5HashesOrdered(words: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(words) - lit(n - 1), lit(1))),
      i => md5Hash60(array_join(slice(words, i, lit(n)), " ")))

  /** The MinHash permutation family: p is the Mersenne prime 2^31−1;
    * a_i/b_i derive from i by pure integer arithmetic so the DuckDB
    * oracle regenerates the SAME constants from `range(k)` (a_i ≠ 0
    * for all i ≤ 96: p is prime and exceeds both factors). With
    * h < 2^31 the product stays < 2^62 — no ANSI overflow. */
  val minhashP = 2147483647L
  def minhashA(i: Int): Long = ((2654435761L % minhashP) * (i + 1)) % minhashP
  def minhashB(i: Int): Long = ((1099511628211L % minhashP) * (i + 1)) % minhashP
  def affineHash(h: Column, i: Int): Column =
    pmod(lit(minhashA(i)) * h + lit(minhashB(i)), lit(minhashP))

  /** The k-permutation MinHash signature of an array<bigint> of
    * shingle hashes: element i is the min of [[affineHash]](h, i) over
    * the array, computed per row by the native [[MinHashSignature]]
    * loop (requires Registry.ensure(spark) once per session). Null for
    * a null, empty or all-null array. */
  def minhashSig(hashes: Column, k: Int): Column =
    call_function("graft_minhash_sig", hashes, lit(k))

  /** Per-bit ±1 SimHash vote of a 64-bit hash column (bit j). Summed
    * per doc as 64 codegen'd aggregates (see Dedup.simhash). */
  def simhashVote(h: Column, j: Int): Column =
    shiftright(h, j).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)

  /** Fold per-bit majority-vote counters back into one BIGINT. */
  def simhashFromVotes(vote: Int => Column, nBits: Int = 64): Column =
    (0 until nBits).map { j =>
      when(vote(j) > lit(0L), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Polynomial rolling-hash fingerprint of a token array, base-1000003
    * modulo 2^31 (the accumulator stays < 2^52, so no ANSI-mode long
    * overflow — deterministic and order-sensitive). The per-token hash
    * is the top 60 bits of md5 rather than xxhash64 so the fingerprint
    * is reproducible by any engine with md5 (the DuckDB oracle
    * replays it with list_reduce) — md5-per-token costs more than
    * xxhash64, but fingerprinting is a once-per-doc pass, not a
    * per-shingle hot loop. */
  def rollingFingerprint(tokenCol: Column): Column =
    aggregate(tokenCol, lit(0L), (acc, t) =>
      pmod(acc * lit(1000003L) +
        pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"), lit(1L << 31)),
        lit(1L << 31)))

  /** Sequential-fold dot product via the native codegen'd DotProduct
    * expression (requires Registry.ensure(spark) once per session).
    * ((0+p1)+p2)+... — same association DuckDB's list_sum uses, so
    * per-row results are bit-identical across engines. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Element-wise vector-sum aggregate ([[VecSumDoubles]]) — the
    * single-pass centroid accumulator for the approximate (rows-kind)
    * ANN paths. Mean = `transform(vecSum(v), x => x / n)` with the
    * group's own count column. NOT for hash-gated outputs (float
    * addition order differs from the exploded per-dim avg). */
  def vecSum(a: Column): Column = call_function("graft_vec_sum", a)

  /** Cosine similarity of two array<float>/array<double> columns
    * (cast to double first — float math differs between engines). */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (norm2(ad) * norm2(bd))
  }

  /** Random-hyperplane LSH bucket for an embedding: the sign bits of
    * `nBits` seeded-pseudo-random hyperplane projections. The weight
    * vectors are literal arrays (seeded, no stored model — reproducible
    * on any cluster) and each projection is one codegen'd DotProduct. */
  def hyperplaneBucket(vec: Column, nBits: Int, dim: Int): Column =
    hyperplaneBucketSeeded(vec, nBits, dim, 0L)

  /** Seeded variant: independent hyperplane sets per LSH table (seed
    * partitions the pseudo-random Gaussian stream so tables never share
    * a hyperplane). */
  def hyperplaneBucketSeeded(vec: Column, nBits: Int, dim: Int, seed: Long): Column = {
    val vd = vec.cast("array<double>")
    (0 until nBits).map { j =>
      val rnd = new scala.util.Random(2654435761L * (j + 1) + 1099511628211L * seed)
      val w = typedLit(Seq.fill(dim)(rnd.nextGaussian()))
      when(dot(vd, w) >= lit(0.0d), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** MULTIPROBE buckets for the same table as [[hyperplaneBucketSeeded]]
    * (identical hyperplanes — a probe array's head IS that bucket): the
    * base bucket plus `nProbes` variants, each flipping one of the
    * lowest-|projection| bits. A near-miss neighbor differs from the
    * query in exactly the hyperplanes the query is CLOSEST to (small
    * margin), so flipping those bits probes the buckets most likely to
    * hold it — the query-directed probing of Lv et al., VLDB'07
    * ("Multi-Probe LSH"), which buys the recall of many extra tables
    * for a few extra bucket reads of the same table. */
  def hyperplaneProbesSeeded(vec: Column, nBits: Int, dim: Int, seed: Long,
      nProbes: Int): Column = {
    require(nProbes < nBits, s"nProbes must be < nBits, got $nProbes/$nBits")
    val vd = vec.cast("array<double>")
    val projs = (0 until nBits).map { j =>
      val rnd = new scala.util.Random(2654435761L * (j + 1) + 1099511628211L * seed)
      val w = typedLit(Seq.fill(dim)(rnd.nextGaussian()))
      dot(vd, w)
    }
    val base = projs.zipWithIndex.map { case (p, j) =>
      when(p >= lit(0.0d), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    // sort (|margin|, bitmask) pairs; struct order sorts by margin first
    val byMargin = array_sort(array(projs.zipWithIndex.map { case (p, j) =>
      struct(abs(p).as("m"), lit(1L << j).as("mask"))
    }: _*))
    val flips = (1 to nProbes).map(i =>
      base.bitwiseXOR(element_at(byMargin, i).getField("mask")))
    array(base +: flips: _*)
  }
}
