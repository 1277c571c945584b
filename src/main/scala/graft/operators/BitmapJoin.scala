package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.functions._

/** Dense key map: a join specialization for build sides whose join key is
  * a bounded non-negative integer (surrogate keys, order/part/customer
  * keys). Instead of broadcasting a hash map keyed by 8-byte entries
  * (~40 B/key with object headers), broadcast ONE dense array over the key
  * domain: each key owns a slot of `bits` ∈ {1, 2, 8} bits packed into
  * `Array[Long]`, and slot value 0 means the key has no build row (the
  * probe yields NULL and the caller drops it — inner/semi-join semantics
  * without assuming foreign-key integrity). The three uses:
  *   - q4/q21: `bits = 1`, value 1 — an EXISTS set (the LEFT SEMI filter);
  *   - q12: `bits = 2`, value 1 or 2 — exists plus one boolean payload;
  *   - q9: `bits = 8`, value `year - 1900` — a one-byte payload.
  * For q12's 1.5M-order build at SF1 that is 375 KB versus a ~60 MB hash
  * relation, and the probe is one shift-and-mask.
  *
  * This mirrors the perfect-hash/min-max join specializations native
  * engines apply when build keys are dense integers (the reference picks
  * its CollectLeft build from stats the same way —
  * `datafusion/physical-optimizer/src/join_selection.rs`).
  *
  * Scale design: the build runs DISTRIBUTED — each partition writes its
  * keys into a local array sized by the keys it actually saw, and only the
  * OR-merge crosses the wire (the same driver-side materialization any
  * broadcast build pays, at map size). Callers gate on footer stats
  * ([[gate]]); past the gate, they fall back to the exchange join. At
  * 100 TB the gate trips (maxKey ~150 B → 19 GB even at one bit per key)
  * and the plan reverts to the exchange form — the decision is
  * planning-time stats, not a constant.
  */
object BitmapJoin {

  private def checkBits(bits: Int): Unit =
    require(bits == 1 || bits == 2 || bits == 8,
      s"dense key map: bits must be 1, 2 or 8, got $bits")

  private def conflict(k: Long, a: Long, b: Long): Nothing =
    throw new IllegalArgumentException(
      s"dense key map: duplicate build key $k with conflicting values $a and $b")

  /** OR-merge two map words, failing on a slot both sides set to different
    * non-zero values (equal values are idempotent, so `bits = 1` never
    * conflicts). `base` is the first key of the word. */
  private def mergeWord(a: Long, b: Long, bits: Int, base: Long): Long = {
    if (bits > 1 && a != 0L && b != 0L && a != b) {
      val mask = (1L << bits) - 1
      var pos = 0
      while (pos < 64) {
        val sa = (a >>> pos) & mask
        val sb = (b >>> pos) & mask
        if (sa != 0L && sb != 0L && sa != sb) conflict(base + pos / bits, sa, sb)
        pos += bits
      }
    }
    a | b
  }

  /** One distributed pass over `df`: slot(`df(key)`) = `value` for every
    * row. Partition-local build + OR-merge; empty input yields an empty map
    * (every probe misses — the join of an empty build side). NULL keys and
    * NULL values are skipped (a NULL key never equi-matches, so it must
    * not occupy slot 0). A negative key or a value outside `1..2^bits-1`
    * fails the build, so callers gate on footer min/max first.
    *
    * A key written twice with different values fails loudly: the payload
    * forms (bits 2 and 8) need UNIQUE build keys (q12/q9 join on the
    * o_orderkey primary key), and a duplicate would otherwise keep an
    * arbitrary row's value. */
  def build(df: DataFrame, key: String, value: Column, bits: Int): Array[Long] = {
    checkBits(bits)
    val shift = Integer.numberOfTrailingZeros(64 / bits) // log2(slots per word)
    val maxV = (1L << bits) - 1
    JobDescription.describe(df.sparkSession, "BitmapJoin.build",
        s"dense key map on $key, $bits-bit slots") {
      org.apache.spark.sql.GraftSqlBridge.internalRdd(
        df.select(col(key).cast("long"), value.cast("long")))
        .mapPartitions { it =>
          var arr = new Array[Long](1 << 10)
          var maxW = -1
          it.foreach { r =>
            if (!r.isNullAt(0) && !r.isNullAt(1)) {
              val k = r.getLong(0)
              val v = r.getLong(1)
              require(k >= 0, s"dense key map: negative key $k")
              require((k >>> shift) < Int.MaxValue - 8, s"dense key map: key $k out of dense range")
              require(v >= 1 && v <= maxV, s"dense key map: value $v out of 1..$maxV")
              val w = (k >>> shift).toInt
              if (w >= arr.length) {
                var n = arr.length
                while (n <= w) n <<= 1
                arr = java.util.Arrays.copyOf(arr, n)
              }
              val off = (k & ((1L << shift) - 1)) * bits
              val old = (arr(w) >>> off) & maxV
              if (old == 0L) arr(w) |= v << off
              else if (old != v) conflict(k, old, v)
              if (w > maxW) maxW = w
            }
          }
          if (maxW < 0) Iterator.empty
          else Iterator.single(java.util.Arrays.copyOf(arr, maxW + 1))
        }
        .fold(Array.emptyLongArray) { (a, b) =>
          val (big, small) = if (a.length >= b.length) (a, b) else (b, a)
          var i = 0
          while (i < small.length) {
            big(i) = mergeWord(big(i), small(i), bits, i.toLong << shift)
            i += 1
          }
          big
        }
    }
  }

  /** Codegen lookup probe over a [[build]] result: NULL when the key is
    * absent (callers filter it out — the inner-join drop), else the slot's
    * 1..2^bits-1 value. Returns a Column transformer so call sites read
    * like a function application. */
  def probe(words: Array[Long], bits: Int): Column => Column = (k: Column) =>
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.DenseKeyProbe(
        org.apache.spark.sql.GraftSqlBridge.expression(k), bits, words))

  /** Footer-stats gate: keys are non-negative and the map (maxKey·bits/8
    * bytes) fits the broadcast threshold. Parquet footers carry no
    * distinct counts, so the unique-key precondition of the payload forms
    * cannot be checked here — it is the caller's schema knowledge (primary
    * key), and [[build]] fails loudly if it does not hold. */
  def gate(spark: SparkSession,
      keyStats: Option[graft.plans.BroadcastAdvisor.ColStats], bits: Int): Boolean =
    keyStats.exists(c => c.minLong.exists(_ >= 0) &&
      c.maxLong.exists(mk => graft.plans.BroadcastAdvisor.shouldBroadcast(spark,
        (mk.toDouble * bits / 8 + 16).toLong)))
}
