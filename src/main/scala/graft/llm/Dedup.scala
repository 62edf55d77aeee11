package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dsl.PigFunctions.roundCompat

/** Deduplication operators for large-scale training-data pipelines.
  *
  * The reference has only whole-tuple DISTINCT
  * [R: …/relationalOperators/PODistinct.java]; these extend that to the
  * document-dedup family a 100 TB text pipeline needs.
  *
  * Scale design: shingling + signatures are per-partition map work (no
  * shuffle) — implemented as tight Scala loops over partition iterators
  * because Spark's array higher-order functions evaluate interpreted
  * (CodegenFallback), which measured ~50x slower on this hot path.
  * Candidate generation shuffles only (band, key, doc) triples — tiny
  * rows — never the documents; verification re-joins shingle sets by doc
  * id rather than carrying them through the candidate shuffle.
  */
object Dedup {

  /** Exact dedup by key columns: one surviving row id per group plus the
    * duplicate count (hash-aggregate; fully combiner-friendly).
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** [[exact]] keyed on a 128-bit content fingerprint instead of the raw
    * content — the 100 TB shape: the shuffle carries 16 bytes per row
    * regardless of document size (two independent 64-bit xxhash seeds;
    * a cross-text collision needs both to collide, ≈ n²/2¹²⁸).
    * Returns (keeper_id, n_copies) like [[exact]]; group keys are the
    * fingerprint halves.
    *
    * @param carry input columns to return as the keeper's (min-id row's)
    *        values — one `min_by` each, riding the same aggregation
    */
  def exactByFingerprint(df: DataFrame, contentCol: String, idCol: String,
                         carry: Seq[String] = Nil): DataFrame =
    df.select((Seq(col(idCol),
        xxhash64(col(contentCol)).as("fp_a"),
        xxhash64(lit("graft-fp2"), col(contentCol)).as("fp_b")) ++
        carry.map(col)): _*)
      .groupBy(col("fp_a"), col("fp_b"))
      .agg(min(col(idCol)).as("keeper_id"),
        (count(lit(1)).as("n_copies") +:
          carry.map(c => min_by(col(c), col(idCol)).as(c))): _*)

  /** k-word shingle set of a whitespace-tokenized text column; documents
    * shorter than k words contribute their whole text as one shingle.
    */
  def shingles(text: Column, k: Int = 3): Column =
    // let-binding via a single-element transform: `ws` is the lambda
    // variable, i.e. the words array MATERIALIZED ONCE — inlining
    // `split` into the inner lambda would re-tokenize the text per
    // element (O(words²) per row; the q84 lesson, see
    // Text.repetitionSignals)
    flatten(transform(array(split(text, " ")), ws => {
      val grams = transform(
        sequence(lit(0), greatest(size(ws) - k, lit(0))),
        i => concat_ws(" ", slice(ws, i + 1, lit(k))))
      array_distinct(when(size(ws) >= k, grams).otherwise(array(text)))
    }))

  /** MinHash signature: numHashes independent hash functions, each the
    * min over the shingle set of xxhash64(seed_i, shingle). Computed as
    * nested array HOFs — one pass over the row, no explode, no shuffle.
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int = 64): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shinglesCol, s => xxhash64(i, s))))

  // --- per-partition minhash kernel (hot loop; see object scaladoc) ---

  /** FNV-1a 64 over UTF-16 code units + murmur finalizer — deterministic,
    * well-mixed; only internal bucket keys depend on it. */
  /** FNV-1a fold + murmur finalizer over any CharSequence — ONE
    * definition serves String and StringBuilder callers (two verbatim
    * copies previously had to be kept bit-identical by hand; r17
    * review). */
  private[graft] def hash64(s: CharSequence): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
    h
  }

  private val Golden = -7046029254386353131L // 2^64/φ, odd

  /** k-word shingle set (JVM-side twin of [[shingles]]). */
  private[graft] def shingleSet(text: String, k: Int): Array[String] = {
    // limit -1: keep trailing empty tokens, matching the Column form
    // split(text, " ") (Spark keeps them; Java's default drops them) —
    // the kernels must stay bit-identical twins of the Column path
    val words = text.split(" ", -1)
    if (words.length < k) return Array(text)
    val set = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= words.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(words(i + j)); j += 1 }
      set.add(sb.toString); i += 1
    }
    set.toArray(new Array[String](set.size))
  }

  /** Hashed, sorted shingle set: each k-gram reduced to its 64-bit hash
    * at extraction time. This is what the pipelines persist and join —
    * an Array[Long] is ~10× smaller than the string set for prose text,
    * and set intersection over sorted longs is branch-cheap. Exact
    * Jaccard over the hashes equals Jaccard over the strings unless two
    * distinct shingles collide in 64 bits (≈ n²/2⁶⁵ — irrelevant below
    * trillions of distinct shingles).
    */
  private[graft] def shingleHashSet(text: String, k: Int): Array[Long] = {
    val words = text.split(" ", -1) // limit -1: see shingleSet

    if (words.length < k) return Array(hash64(text))
    val set = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= words.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(words(i + j)); j += 1 }
      set.add(hash64(sb)); i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator(); var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  /** Positional k-word gram hashes — one 64-bit hash PER WINDOW, in
    * document order (index i = the gram starting at word i), empty when
    * the document has fewer than k words. Unlike [[shingleHashSet]]
    * this keeps positions and duplicates: span-level dedup needs WHERE
    * each gram occurs, not just the distinct set. Two-level hashing
    * keeps character work O(chars): each word is hashed once with
    * [[hash64]], then each window folds its k 8-byte word hashes — so
    * a 200-char window costs k long-mixes, not 200 char-mixes. Two
    * windows hash equal iff their word sequences are equal, modulo a
    * 64-bit collision (≈ n²/2⁶⁵, the standing caveat of this family).
    */
  private[graft] def gramHashes(text: String, k: Int): Array[Long] = {
    val words = text.split(" ", -1) // limit -1: see shingleSet
    val n = words.length
    if (n < k) return Array.emptyLongArray
    val wh = new Array[Long](n)
    var i = 0
    while (i < n) { wh(i) = hash64(words(i)); i += 1 }
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i <= n - k) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) { h ^= wh(i + j); h *= 0x100000001b3L; j += 1 }
      // avalanche so windows sharing a prefix don't correlate
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
      out(i) = h
      i += 1
    }
    out
  }


  /** Band keys from a shingle set: hash each shingle once, derive the
    * `numHashes` minhash functions as wrapped multiply-add permutations
    * of the base hash (odd multiplier ⇒ bijection on Z/2^64), then mix
    * each band's `r` minima into one 64-bit key. Identical sets get
    * identical keys; near-identical sets share ≥1 band with the standard
    * 1-(1-J^r)^b probability.
    */
  private[graft] def bandKeys(sh: Array[String], numHashes: Int, bands: Int): Array[Long] = {
    val base = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) { base(i) = hash64(sh(i)); i += 1 }
    bandKeysFromHashes(base, numHashes, bands)
  }

  /** MinHash signature over pre-hashed shingles: numHashes minima of
    * the affine re-hash family `base*a_f + b_f`. The PERSISTABLE form
    * of the sketch ([[lshIncremental]]'s store rows): band keys derive
    * from it ([[bandKeysFromSig]]) and signature agreement estimates
    * Jaccard without the shingle sets. */
  private[graft] def minhashFromHashes(base: Array[Long], numHashes: Int): Array[Long] = {
    val mins = new Array[Long](numHashes)
    var f = 0
    while (f < numHashes) {
      val a = Golden * (2L * f + 1L); val b = Golden * (f + 1L)
      var m = Long.MaxValue
      var j = 0
      while (j < base.length) {
        val v = base(j) * a + b
        if (v < m) m = v
        j += 1
      }
      mins(f) = m; f += 1
    }
    mins
  }

  /** Band keys from a minhash signature: bands FNV-mixed keys of
    * r = |sig|/bands consecutive minima each. */
  private[graft] def bandKeysFromSig(mins: Array[Long], bands: Int): Array[Long] = {
    val r = mins.length / bands
    val keys = new Array[Long](bands)
    var bI = 0
    while (bI < bands) {
      var h = 0xcbf29ce484222325L ^ bI
      var k = 0
      while (k < r) {
        h ^= mins(bI * r + k); h *= 0x100000001b3L
        h ^= h >>> 29
        k += 1
      }
      keys(bI) = h; bI += 1
    }
    keys
  }

  /** [[bandKeys]] over pre-hashed shingles — signature then band mix,
    * byte-identical to the pre-split single pass. */
  private[graft] def bandKeysFromHashes(base: Array[Long], numHashes: Int, bands: Int): Array[Long] =
    bandKeysFromSig(minhashFromHashes(base, numHashes), bands)

  /** Same-bucket candidate pairs over `(keyCols…, elem)` rows, with the
    * bucket cap applied in the SAME aggregation that groups the bucket —
    * one shuffle, no join-back, and the quadratic expansion happens
    * map-side on the grouped array (bounded by `maxBucket`). This
    * replaced a bucket-count join + banded-vs-banded self-join that
    * recomputed the banding once per join side (measured 3–8× the whole
    * pipeline's cost at sf0.1).
    *
    * Why capping is sound: the pair expansion is quadratic per bucket,
    * so one pathological bucket (boilerplate, empty docs, a degenerate
    * embedding) can dominate the whole job; a capped bucket loses only
    * pairs whose EVERY shared bucket is pathological, and with exact
    * duplicates collapsed first an over-cap bucket means >maxBucket
    * genuinely distinct near-identical items — a cluster better
    * handled at group level.
    *
    * Known bound (r17 review): the cap filters AFTER the collect, so
    * an over-cap bucket still materializes its full array in one final
    * aggregation buffer before being discarded — with exact duplicates
    * collapsed first that's maxBucket-breaching DISTINCT reps, i.e.
    * ~8–16 B each (a 10⁶-rep pathological bucket ≈ 8–16 MB of one
    * task's heap, spillable), not document text. Re-introducing a
    * pre-count join to avoid it was measured 3–8× the whole pipeline's
    * cost (see above) — the documented trade. If a corpus is known to
    * carry >10⁷-member near-identical clusters, collapse them with
    * [[exactByFingerprint]] on a normalized key first.
    */
  private def bucketPairs(banded: DataFrame, keyCols: Seq[String],
                          elem: Column, maxBucket: Int): DataFrame = {
    val sizeOk =
      if (maxBucket > 0) size(col("ds")).between(2, maxBucket)
      else size(col("ds")) >= 2
    banded
      .groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(collect_list(elem).as("ds"))
      .filter(sizeOk)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
  }

  /** Expand representative-level pairs back to member-level pairs, plus
    * the intra-group pairs (identical keys → `selfScore`). `mem` is
    * (rep, id); `repPairs` is (id_a, id_b, score) over representatives.
    * Output is exactly the pair set an uncollapsed run would emit —
    * quadratic in group sizes because the OUTPUT is (at true corpus
    * scale prefer the group-level `exact` report and skip expansion).
    */
  private def expandPairs(repPairs: DataFrame, mem: DataFrame,
                          scoreCol: String, selfScore: Column): DataFrame = {
    val cross = repPairs
      .join(mem.toDF("rep_a", "m_a"), col("rep_a") === col("id_a"))
      .join(mem.toDF("rep_b", "m_b"), col("rep_b") === col("id_b"))
      .select(least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"), col(scoreCol))
    val intra = mem.toDF("rep", "m_a").as("x")
      .join(mem.toDF("rep", "m_b").as("y"), col("x.rep") === col("y.rep") &&
        col("m_a") < col("m_b"))
      .select(col("m_a").as("id_a"), col("m_b").as("id_b"),
        selfScore.as(scoreCol))
    cross.unionByName(intra)
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: collapse exact-duplicate texts to one representative →
    * shingle (per-partition map) → band keys → explode bands → group
    * reps per (band, key), dropping buckets over `maxBucket` →
    * same-bucket pairs → exact-Jaccard verification ≥ threshold →
    * expand back to member pairs. The emitted pairs are exact (every
    * candidate is verified); LSH only bounds recall.
    *
    * Scale: the candidate self-join is quadratic per bucket, so the two
    * defenses matter at corpus scale — exact duplicates (the dominant
    * real-world source of giant buckets) never reach the banding, and
    * `maxBucket` bounds whatever pathology remains. Both default on.
    *
    * @param maxBucket drop (band,key) buckets with more members
    *        (post-collapse) than this; <= 0 disables the cap.
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard in [0,1].
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
                 threshold: Double = 0.9, maxBucket: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")

    // per-doc hashed shingle set through the codegen'd
    // `graft_shingle_hashes` ([[graft.plans.ShingleHashesF]], which
    // delegates to [[shingleHashSet]] — identical hashes) — the
    // document text never leaves its input partition; every shuffle
    // from here on carries 8-byte hashes (exact Jaccard modulo 64-bit
    // collisions). As an Expression rather than an RDD hop, the
    // shingling fuses into the scan's codegen stage and AQE keeps its
    // statistics across the whole plan. Null text is dropped up front:
    // the null-intolerant expression would otherwise yield hs=null for
    // every such doc, and xxhash64(null)'s constant fingerprint would
    // collapse all of them into one jaccard-1.0 duplicate class —
    // unknown text must not be declared a duplicate of anything.
    val docsK = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        call_function("graft_shingle_hashes", col(textCol), lit(shingleK)).as("hs"))

    // collapse exact-duplicate shingle SETS (a superset of duplicate
    // texts — set-equal texts have Jaccard exactly 1.0, so the emitted
    // pairs are identical): one representative (min id) per distinct
    // set. The shuffle carries (set-fingerprint, id) plus one partial
    // min_by set per map task — never the text, and duplicate sets
    // combine map-side. The key is a two-seed 128-bit fingerprint, same
    // as [[exactByFingerprint]]: a single 64-bit key would merge two
    // colliding distinct sets into one jaccard-1.0 group that the
    // verify step never re-checks (≈ n²/2⁶⁵ — material at ~1e11 docs).
    val groups = docsK
      .withColumn("fp_a", xxhash64(col("hs")))
      .withColumn("fp_b", xxhash64(lit("graft-fp2"), col("hs")))
      .groupBy(col("fp_a"), col("fp_b"))
      .agg(min(col("doc")).as("rep"),
        min_by(col("hs"), col("doc")).as("sh"),
        collect_list(col("doc")).as("ids"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.dsl.Rel.track(groups)
    val mem = groups.select(col("rep"), explode(col("ids")).as("id"))

    // (rep, hashed shingle set): reused by banding and by both sides of
    // the verification join
    val shingled = groups.select(col("rep").as("doc"), col("sh"))

    // band index = position in the codegen'd `graft_band_keys` array
    // ([[graft.plans.BandKeysF]], delegating to [[bandKeysFromHashes]])
    val banded = shingled
      .select(col("doc"),
        posexplode(call_function("graft_band_keys", col("sh"),
          lit(numHashes), lit(bands))))
      .toDF("doc", "band", "key")

    // same-bucket candidate pairs: grouped buckets (capped in the same
    // aggregation), pairs expanded map-side — small rows, one shuffle
    val cand = bucketPairs(banded, Seq("band", "key"), col("doc"), maxBucket)
      .filter(col("a") < col("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()

    // verification: fetch shingle sets by id, exact Jaccard
    val withSets = cand
      .join(shingled.withColumnRenamed("doc", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(shingled.withColumnRenamed("doc", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")

    val repPairs = withSets
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

    // identical texts have jaccard exactly 1.0
    expandPairs(repPairs, mem, "jaccard", lit(1.0))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash: 64-bit fingerprint — per bit, sign of the sum over tokens
    * of ±1 weighted by whether the token's hash has that bit set.
    * Near-dups = fingerprints within `maxHamming`; candidates via 4
    * 16-bit band buckets (any pair with hamming ≤ 3 shares ≥ 1 band).
    */
  def simhash(text: Column): Column = {
    val words = array_distinct(split(text, " "))
    val hashes = transform(words, w => xxhash64(w))
    // bit j of fingerprint = 1 if sum over tokens of (bit_j ? 1 : -1) > 0
    val bits = transform(sequence(lit(0), lit(63)), j =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + when(call_function("shiftright", h, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)) > 0, 1L)
        .otherwise(0L))
    aggregate(sequence(lit(0), lit(63)), lit(0L),
      (acc, j) => acc + element_at(bits, j + 1) * call_function("shiftleft", lit(1L), j))
  }

  /** JVM kernel twin of [[simhash]] — bit-identical (same xxhash64 seed
    * 42 over UTF-8 bytes via catalyst's XXH64, same distinct-token set,
    * same sign rule), run as a tight loop instead of interpreted array
    * HOFs (~10× on this hot path; see object scaladoc).
    */
  private[graft] def simhashK(text: String): Long = {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val words = text.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val counts = new Array[Long](64)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (seen.add(w)) {
        val h = XXH64.hashUTF8String(UTF8String.fromString(w), 42L)
        var j = 0
        while (j < 64) {
          counts(j) += (if (((h >>> j) & 1L) == 1L) 1L else -1L); j += 1
        }
      }
      i += 1
    }
    var fp = 0L; var j = 0
    while (j < 64) { if (counts(j) > 0) fp |= 1L << j; j += 1 }
    fp
  }

  /** (doc, fp) fingerprints via the [[simhashK]] kernel — the scale path
    * used by [[simhashPairs]] and the t2 query; [[simhash]] stays for
    * Column-level composition.
    */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("doc", df.schema(idCol).dataType), StructField("fp", LongType)))
    spark.createDataFrame(
      // null text carries no shingles to hash: drop it here (the
      // minhashLsh/minhashSignatures rule) rather than NPE in the kernel
      df.select(col(idCol), col(textCol)).filter(col(textCol).isNotNull)
        .rdd.mapPartitions(_.map { r =>
          Row(r.get(0), simhashK(r.getString(1)))
        }), schema)
  }

  private def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3 with
    * the 4-band scheme guarantees exact candidate recall).
    *
    * Scale: identical fingerprints (exact dupes, empty/boilerplate docs
    * that hash alike) are collapsed to one representative before the
    * bucketed self-join — the dominant hot-bucket source never reaches
    * it — and `maxBucket` (post-collapse, per 16-bit band bucket) bounds
    * the residue. Intra-group pairs are re-emitted with hamming = 0.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    require(maxHamming <= 3, "4-band scheme guarantees recall only for hamming <= 3")
    val fp0 = simhashFingerprints(df, idCol, textCol)
    val groups = fp0.groupBy(col("fp"))
      .agg(min(col("doc")).as("rep"), collect_list(col("doc")).as("ids"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.dsl.Rel.track(groups)
    val mem = groups.select(col("rep"), explode(col("ids")).as("id"))
    val fp = groups.select(col("rep").as("doc"), col("fp"))
    val banded = fp.select(col("doc"), col("fp"),
        posexplode(transform(sequence(lit(0), lit(3)),
          b => call_function("shiftright", col("fp"), b * 16).bitwiseAND(0xFFFFL))))
      .toDF("doc", "fp", "band", "key")
    val repPairs = bucketPairs(banded, Seq("band", "key"),
        struct(col("doc"), col("fp")), maxBucket)
      .filter(col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
        hamming(col("a.fp"), col("b.fp")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    expandPairs(repPairs, mem, "hamming", lit(0))
  }

  /** Prefix length for prefix-filtered (AllPairs/PPJoin-style) set
    * similarity at Jaccard threshold `t`: a set y with |x∩y| ≥ ⌈t·|y|⌉
    * must have a common element inside its first |y|−⌈t·|y|⌉+1 elements
    * under ANY fixed total order (the suffix has only ⌈t·|y|⌉−1 slots).
    * J(x,y) ≥ t ⇒ |x∩y| ≥ t·|x∪y| ≥ t·|y|, so indexing each set's
    * prefix and probing with FULL sets loses no pair at threshold
    * (Bayardo et al., WWW'07; Xiao et al., PPJoin).
    *
    * The epsilon before ceil keeps FP rounding from SHORTENING the
    * prefix: t·n computed in doubles can land a hair above the exact
    * rational (0.1·30 → 3.0000000000000004 → ceil 4), dropping one
    * indexed element and losing a threshold-exact pair that the
    * (double) verification filter would have passed. Subtracting 1e-9
    * means rounding error can only lengthen the prefix (extra
    * candidates, verified away) — recall stays exactly 1.
    */
  private[graft] def prefixLen(n: Int, t: Double): Int =
    n - math.ceil(t * n - 1e-9).toInt + 1

  /** Exact n-gram Jaccard within a blocking key (e.g. source), via a
    * prefix-filtered inverted index: shingle rows (JVM kernel) →
    * per-(block, shingle) document frequency → each doc's shingles
    * ordered rarest-first → index only the [[prefixLen]]-prefix → probe
    * the prefix index with FULL shingle sets → verify candidates with
    * exact Jaccard over the per-doc sets.
    *
    * Scale: candidate work is Σ_s full(s)·prefix(s), not Σ full(s)² —
    * boilerplate shingles (huge df) land in almost no doc's
    * rarest-first prefix, so their postings never self-join. Recall at
    * the threshold is exactly 1 (prefix-filter lemma, property-tested),
    * so the output is identical to the exhaustive formulation and to
    * the SQL oracle. Pairs sharing zero shingles are never materialized.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, k: Int = 3, minJaccard: Double = 0.1): DataFrame = {
    // per-doc hashed shingle SET through the codegen'd
    // `graft_shingle_hashes` (delegates to [[shingleHashSet]] —
    // identical hashes) — no shuffle builds it, and every downstream
    // shuffle/join carries 8-byte hashes, never the k-gram strings
    // (Jaccard over hashes ≡ over strings modulo 64-bit collisions, see
    // the kernel scaladoc). Persisted: exploded rows feed document
    // frequency + index probing, the arrays feed verification.
    // null text dropped up front (same rationale as [[minhashLsh]]):
    // size(null) = -1 would otherwise flow into the prefix arithmetic
    val docsK = df.filter(col(textCol).isNotNull)
      .select(col(blockCol).as("blk"), col(idCol).as("doc"),
        call_function("graft_shingle_hashes", col(textCol), lit(k)).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.dsl.Rel.track(docsK)
    val sh = docsK.select(col("blk"), col("doc"), size(col("hs")).as("n"),
      explode(col("hs")).as("h"))
    // rarest-first total order = (document frequency within block, h);
    // any fixed order is correct — df-ascending makes prefixes rare
    val dfreq = sh.groupBy(col("blk"), col("h")).agg(count(lit(1)).as("dfc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk"), col("doc")).orderBy(col("dfc"), col("h"))
    // shuffle-hash hints: sort-merge would sort all 2×|shingle rows|
    // just to join on (blk, h); the hash join shuffles without sorting
    // (the window right after does its own per-(blk,doc) sort anyway)
    val prefix = sh.join(dfreq.hint("shuffle_hash"), Seq("blk", "h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= // epsilon: FP rounding may only LENGTHEN the prefix ([[prefixLen]])
        col("n") - ceil(lit(minJaccard) * col("n") - lit(1e-9)).cast("int") + 1)
      .select(col("blk"), col("doc").as("b"), col("h"))
    // probe: full sets against the prefix index — one hit is enough
    val cand = sh.select(col("blk"), col("doc").as("a"), col("h"))
      .join(prefix.hint("shuffle_hash"), Seq("blk", "h"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"))
      .distinct()
    val sets = docsK.select(col("doc"), col("hs"), size(col("hs")))
    cand
      .join(sets.toDF("id_a", "sa", "ca"), "id_a")
      .join(sets.toDF("id_b", "sb", "cb"), "id_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .select(col("id_a"), col("id_b"),
        (col("i") / (col("ca") + col("cb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Incremental exact dedup — the continuous-ingest production shape:
    * dedup a NEW batch against an EXISTING corpus fingerprint store
    * without ever rescanning the corpus. A 100 TB pipeline dedups each
    * arriving batch in two steps: (1) within-batch exact dedup (the
    * [[exactByFingerprint]] hash-aggregation over the batch only),
    * (2) anti-join of the batch's surviving fingerprints against the
    * store (hash equi-join on two 8-byte columns; the store side is
    * the only corpus-sized input and it carries 24 bytes/row, not
    * documents). Returns the batch rows that are new to the corpus,
    * plus the updated fingerprint rows to append to the store — the
    * caller persists those (e.g. a bucketed table on fp_a, making the
    * anti-join zero-Exchange on the store side).
    *
    * @param store existing fingerprints: (fp_a, fp_b) — extra columns
    *        ignored
    * @param carry batch columns to return as the keeper's values (e.g.
    *        the content itself, so a caller needs no join back to the
    *        batch to recover it)
    * @return (id, fp_a, fp_b, carry...) — one row per surviving NEW
    *         document (within-batch keeper AND absent from the store)
    */
  def exactIncremental(batch: DataFrame, contentCol: String, idCol: String,
                       store: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    // step 1 IS exactByFingerprint — shared code so the incremental
    // path can never diverge from the batch fingerprint scheme
    val keepers = exactByFingerprint(batch, contentCol, idCol, carry)
      .select((Seq(col("keeper_id").as("id"), col("fp_a"), col("fp_b")) ++
        carry.map(col)): _*)
    val st = store.select(col("fp_a"), col("fp_b"))
    // Null-content handling needs NO special path: Spark's xxhash64 is
    // NOT null-propagating (HashExpression.nullable is hardwired
    // false; a null child is skipped and the seed comes back, so
    // xxhash64(NULL) = 42 — verified against the shipped Spark 4.1.2).
    // A null-content doc therefore fingerprints to the same non-null
    // constant pair every time, dedups within-batch through the
    // groupBy, and matches the store through this plain equi-anti-join
    // like any other document (cross-batch regression test in
    // TextSpec). The plain Seq-keys join keeps the bucketed store read
    // Exchange-free (BucketedSpec).
    keepers
      .join(st, Seq("fp_a", "fp_b"), "left_anti")
      .select((Seq(col("id"), col("fp_a"), col("fp_b")) ++ carry.map(col)): _*)
  }

  /** One-row SCHEME MANIFEST for a persisted LSH store set — the
    * versioned-store contract the (sigStore, bandIndex) pairing
    * requires (r17 VERDICT): the row-local guards catch a wrong
    * signature SIZE ([[lshIncremental]]'s `checkedSig`) and a
    * LARGER-bands index (band values out of range), but an index built
    * with FEWER bands than the call's scheme is row-locally
    * undetectable — its band values are in range, its keys just derive
    * from a different r = numHashes/bands, so the (band, key)
    * equi-join silently matches ~nothing and ADMITS every cross-store
    * duplicate. Persist THIS next to the store tables (one extra
    * one-row table per store set), pass it back at ingest, and every
    * scheme mismatch — numHashes, bands, shingleK — fails loudly
    * before any corpus-sized work starts.
    *
    * Ingest loop contract: the manifest is written ONCE when the store
    * set is bootstrapped and never mutated by appends; rebuilding the
    * store under a new scheme bumps `version` and rewrites the row.
    *
    * @return one row: (shingle_k, num_hashes, bands, version)
    */
  def lshManifest(spark: org.apache.spark.sql.SparkSession,
                  shingleK: Int = 3, numHashes: Int = 64,
                  bands: Int = 16, version: Long = 1L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    import spark.implicits._
    Seq((shingleK, numHashes, bands, version))
      .toDF("shingle_k", "num_hashes", "bands", "version")
  }

  /** Fail-loud manifest validation — driver-side, one-row collect
    * (bounded by construction), runs before any corpus-sized work.
    * Shared by [[lshIncremental]]/[[lshIncrementalIndexed]]/
    * [[lshBandIndex]]/[[graft.llm.Curate.incrementalCurate]]. */
  private[graft] def requireManifest(manifest: DataFrame, op: String,
                                     shingleK: Option[Int], numHashes: Int,
                                     bands: Int): Unit = {
    // limit(2): two rows already prove the one-row invariant violated,
    // and the bound keeps an accidentally-passed corpus-sized frame
    // (e.g. the sig store) from being collected whole to the driver
    // before the intended loud failure (r18 ADVICE)
    val rows = manifest.select(col("shingle_k").cast("int"),
      col("num_hashes").cast("int"), col("bands").cast("int"))
      .limit(2).collect()
    require(rows.length == 1,
      s"$op: store manifest must have exactly one row, got " +
        s"${if (rows.length > 1) ">1" else "0"} — " +
        "one manifest row per store set (lshManifest)")
    val r = rows(0)
    val (mk, mh, mb) = (r.getInt(0), r.getInt(1), r.getInt(2))
    require(shingleK.forall(_ == mk) && mh == numHashes && mb == bands,
      s"$op: store manifest scheme (shingleK=$mk, numHashes=$mh, bands=$mb) " +
        s"!= call scheme (shingleK=${shingleK.map(_.toString).getOrElse("-")}, " +
        s"numHashes=$numHashes, bands=$bands) — pass the parameters the store " +
        "was built with, or rebuild the store set (and bump the manifest " +
        "version) under the new scheme")
  }

  /** Minhash signatures for a corpus: (id, sig) — the persistable
    * store rows of [[lshIncremental]]. Build once over the existing
    * corpus to bootstrap the store; thereafter each batch's surviving
    * rows are appended. Null text is dropped ([[minhashLsh]]'s
    * rationale: unknown text must not be declared a duplicate).
    * `carry` columns of `df` ride along after (id, sig). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, numHashes: Int = 64,
                        carry: Seq[String] = Nil): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select((Seq(col(idCol).as("id"),
        call_function("graft_minhash_sig",
          call_function("graft_shingle_hashes", col(textCol), lit(shingleK)),
          lit(numHashes)).as("sig")) ++ carry.map(col)): _*)

  /** Incremental MinHash-LSH NEAR-dedup — the near-duplicate twin of
    * [[exactIncremental]], the continuous-ingest shape: admit from a
    * NEW batch only documents that are near-duplicates of neither an
    * already-admitted (smaller-id) batch document nor ANY document in
    * the existing corpus — without ever rescanning corpus text. The
    * store holds one minhash SIGNATURE per admitted doc (8·numHashes
    * bytes): band keys re-derive from it (`graft_band_keys_sig`, split
    * from the batch kernel so the two sides can never drift) and
    * candidate verification estimates Jaccard as the fraction of
    * agreeing signature components — the classic signature estimator
    * (E[agree/n] = J), deterministic for fixed hashes, so the admit
    * set is reproducible across runs and partitionings. Note the
    * estimator DIFFERS from [[minhashLsh]]'s exact-Jaccard verify:
    * batch-mode has the shingle sets in hand, the store deliberately
    * does not keep them.
    *
    * Drop rule (deterministic keep-first, the q107 convention): batch
    * docs with identical signatures collapse to the min id first (the
    * [[minhashLsh]] exact-collapse defense — giant buckets of exact
    * duplicates never reach the quadratic expansion); a remaining doc
    * is dropped iff it near-dups a smaller-id batch doc or any store
    * doc. Chains are pessimistic: b~a and c~b drop both b and c even
    * though c may not near-dup a — cluster-precise semantics are
    * [[nearDupClusters]]' job, not an ingest filter's.
    *
    * BATCH-SPLIT ORDER-DEPENDENCE (inherent to the pessimistic rule,
    * spec'd in LlmSpec): the admit set depends on how the stream is
    * batched. In one batch {a, b, c} with b~a and c~b but c!~a, the
    * within-batch rule drops BOTH b and c; split as {a, b} then {c},
    * the store after round 1 holds only a (b was dropped, dropped docs
    * are never appended), so c near-dups nothing and is ADMITTED. Any
    * chain tail can flip this way at a batch boundary. The loop
    * INVARIANTS (no admit exact/near-dups a prior admit, re-ingest
    * admits nothing — q128) hold for EVERY split; the admit ids
    * themselves are only reproducible for a fixed batching.
    *
    * Scale shape: corpus-sized inputs touch only (a) the store's
    * (id, sig) scan deriving band keys — at true scale use
    * [[lshIncrementalIndexed]] over a persisted [[lshBandIndex]]
    * bucketed by (band, key) and this per-batch derivation disappears
    * — and (b) the bucket aggregation capping hot buckets
    * ([[bucketPairs]]' soundness argument; over-`maxBucket` store
    * buckets are dropped the same way). Everything else is
    * batch-sized; signatures ride shuffles only on candidate rows.
    *
    * @param store existing signatures: (id, sig) — [[minhashSignatures]]
    *        rows. MUST be materialized (a table read or a persisted
    *        frame): two store-side consumers evaluate it inside the
    *        op, and for a derived lineage whether AQE reuses the
    *        exchange is plan luck — the r17 stage profile
    *        (SCALECURVE.md §q119 incremental LSH) measured an
    *        un-persisted derived store swinging 23 s ↔ 183 s at 64×
    *        on exactly that flip (flat 17–19 s persisted)
    * @param splitInvariant opt-in batch-split-invariant mode: the
    *        result covers EVERY batch rep with an `admitted` boolean
    *        and the caller appends ALL rows to the store ("all seen
    *        reps"), making the admit set independent of where batch
    *        boundaries fall in an id-ordered stream — see
    *        `lshIncrementalBands`' scaladoc for semantics and edges.
    *        Default false: the chain-pessimistic admits-only store,
    *        whose admit set is batch-split-DEPENDENT on chain tails
    *        (spec'd in LlmSpec)
    * @param carry batch columns returned with each rep, as the rep's
    *        (min-id doc's) values — they ride the rep aggregation, so a
    *        caller needs no join back to the batch (names other than
    *        `id`, `sig` and `admitted`)
    * @return (id, sig, carry...) — admitted batch rows, ready to append
    *         to the store; with `splitInvariant`, (id, sig, carry...,
    *         admitted) — ALL batch reps, EVERY row appended, `admitted`
    *         marking the actually-new documents
    */
  def lshIncremental(batch: DataFrame, idCol: String, textCol: String,
                     store: DataFrame, shingleK: Int = 3, numHashes: Int = 64,
                     bands: Int = 16, threshold: Double = 0.9,
                     maxBucket: Int = 10000,
                     manifest: Option[DataFrame] = None,
                     splitInvariant: Boolean = false,
                     carry: Seq[String] = Nil): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    manifest.foreach(requireManifest(_, "lshIncremental", Some(shingleK), numHashes, bands))
    val store0 = store.select(col("id"),
      checkedSig(col("sig"), "store", numHashes).as("sig"))
    val storeBands = store0
      .select(col("id").as("sid"),
        posexplode(call_function("graft_band_keys_sig", col("sig"), lit(bands))))
      .toDF("sid", "band", "key")
    lshIncrementalBands(batch, idCol, textCol, store0, storeBands,
      shingleK, numHashes, bands, threshold, maxBucket, splitInvariant, carry)
  }

  /** The exploded (id, band, key) index rows for a signature store —
    * [[lshIncrementalIndexed]]'s corpus-sized input. Persist BUCKETED
    * by (band, key) (the q109 bucketed-store pattern) and the indexed
    * path's store-side bucket aggregation is zero-Exchange; the
    * per-batch signature-scan band derivation [[lshIncremental]] pays
    * disappears entirely. Building the index validates every store
    * signature's scheme once (size == numHashes, fail-loud), so the
    * indexed path only re-checks candidate rows. Ingest loop: append
    * admitted docs' [[lshBandIndex]] rows next to their (id, sig)
    * store rows each batch ([[graft.ops.Bucketed.appendBucketed]] is
    * the durable table-backed append; it validates the bucket spec so
    * the zero-Exchange contract survives every append). The (sigStore, bandIndex) pair is ONE
    * versioned store: consume it with the same (numHashes, bands) it
    * was built with — a larger-bands index fails loudly at ingest
    * (range check), a smaller-bands one is row-locally undetectable
    * (in-range bands, different-r keys) and is exactly what the
    * persisted [[lshManifest]] closes: pass it here and at every
    * ingest so the whole scheme is checked loudly up front. */
  def lshBandIndex(sigStore: DataFrame, numHashes: Int = 64,
                   bands: Int = 16,
                   manifest: Option[DataFrame] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // shingleK is not an index-side concern (signatures are already
    // built) — only the signature/band scheme is validated here
    manifest.foreach(requireManifest(_, "lshBandIndex", shingleK = None,
      numHashes = numHashes, bands = bands))
    sigStore.select(col("id"),
        checkedSig(col("sig"), "store", numHashes).as("sig"))
      .select(col("id"),
        posexplode(call_function("graft_band_keys_sig", col("sig"), lit(bands))))
      .toDF("id", "band", "key")
  }

  /** [[lshIncremental]] over a PRE-BUILT [[lshBandIndex]] — the true-
    * scale form: the store-side work per ingest is one bucket
    * aggregation over the index (zero-Exchange when the index persists
    * bucketed by (band, key)) plus a signature fetch for CANDIDATE ids
    * only; no per-batch scan re-derives band keys from the signature
    * store. Admit set is IDENTICAL to [[lshIncremental]] for an index
    * built from the same store (property-tested): both paths share one
    * body, differing only in where the (sid, band, key) rows come
    * from. Same materialized-store contract for both inputs.
    *
    * @param sigStore  (id, sig) rows — verification fetches candidates'
    *                  signatures from here
    * @param bandIndex (id, band, key) rows — [[lshBandIndex]] of the
    *                  same store
    * @param carry     as in [[lshIncremental]]
    */
  def lshIncrementalIndexed(batch: DataFrame, idCol: String, textCol: String,
                            sigStore: DataFrame, bandIndex: DataFrame,
                            shingleK: Int = 3, numHashes: Int = 64,
                            bands: Int = 16, threshold: Double = 0.9,
                            maxBucket: Int = 10000,
                            manifest: Option[DataFrame] = None,
                            splitInvariant: Boolean = false,
                            carry: Seq[String] = Nil): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // the manifest is what closes the FEWER-bands index hole described
    // below — pass the store set's persisted lshManifest here and the
    // whole scheme (shingleK, numHashes, bands) is checked loudly up
    // front, not just the row-locally detectable axes
    manifest.foreach(requireManifest(_, "lshIncrementalIndexed",
      Some(shingleK), numHashes, bands))
    val store0 = sigStore.select(col("id"),
      checkedSig(col("sig"), "store", numHashes).as("sig"))
    // scheme guard (the checkedSig rule for the index side): an index
    // built with MORE bands than this call's `bands` fails LOUDLY via
    // the per-row range check riding the rows we already scan — its
    // band values exceed the range, and unguarded the (band, key)
    // equi-join would silently match ~nothing and ADMIT every
    // cross-store duplicate (r17 review). An index built with FEWER
    // bands cannot be detected row-locally (its values are in range
    // but its keys derive from a different r = numHashes/bands), so
    // the (sigStore, bandIndex) pair must be maintained as ONE
    // versioned store — see [[lshBandIndex]].
    val storeBands = bandIndex.select(col("id").as("sid"),
      when(col("band") >= bands,
        raise_error(concat(
          lit("lshIncrementalIndexed: index band "),
          col("band").cast("string"),
          lit(s" >= bands $bands — the index was built with a different band scheme"))))
        .otherwise(col("band")).as("band"),
      col("key"))
    lshIncrementalBands(batch, idCol, textCol, store0, storeBands,
      shingleK, numHashes, bands, threshold, maxBucket, splitInvariant, carry)
  }

  /** Signature-agreement Jaccard estimate (E[agree/n] = J). */
  private def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  // r16 advice: a store built with a different numHashes must fail
  // LOUDLY — zip_with null-pads mismatched arrays and the agreement
  // count maps those nulls to 0, so estimated Jaccard would silently
  // collapse toward 0 and every duplicate would be admitted. One
  // codegen'd size() compare per row, both sides.
  private def checkedSig(sig: Column, side: String, numHashes: Int): Column =
    when(size(sig) =!= numHashes,
      raise_error(concat(
        lit(s"lshIncremental: $side signature size "),
        size(sig).cast("string"),
        lit(s" != numHashes $numHashes — store and batch must use the same scheme"))))
      .otherwise(sig)

  /** Shared body of [[lshIncremental]]/[[lshIncrementalIndexed]]:
    * `store0` = scheme-checked (id, sig), `storeBands` = the store's
    * (sid, band, key) rows — derived or indexed.
    *
    * `splitInvariant = true` (r18 VERDICT task 5) switches what the
    * result covers, NOT the drop rule: EVERY batch rep comes back with
    * an `admitted` boolean, and the caller appends ALL rows' (id, sig)
    * — dropped reps included — to the signature store (and their
    * [[lshBandIndex]] rows to the index). The store then holds every
    * SEEN rep, so a doc's admit decision depends only on the set of
    * docs seen before it — never on where batch boundaries fall. The
    * default mode's chain-tail flip ({a,b,c} drops c via b, but
    * {a,b}+{c} admits c because dropped b never reached the store)
    * cannot happen: b's signature is in the store either way. Formally:
    * for any split of an id-ordered stream into consecutive (prefix)
    * batches, the admit set equals the one-batch admit set, modulo two
    * documented edges — (1) a (band,key) bucket crossing `maxBucket`
    * in one split but not another changes candidate discovery (keep
    * buckets under the cap, or disable it); (2) cross-batch exact-sig
    * duplicates append one extra non-admitted store row per copy
    * (harmless: an identical signature re-confirms every drop it
    * already caused). Non-prefix splits get arrival-order-greedy
    * semantics — "first seen wins" — which is the production meaning
    * of an ingest stream anyway. Costs: the store grows with SEEN reps
    * (admits + near-dup rejects, PLUS one row per cross-batch exact
    * copy of a non-admitted rep — edge (2) above, so an adversarial
    * stream resending the same rejected doc each batch grows the store
    * linearly with those resends, not with distinct signatures; a
    * caller facing that stream shape should dedupe its appends by
    * signature).
    */
  private def lshIncrementalBands(batch: DataFrame, idCol: String,
                                  textCol: String, store0: DataFrame,
                                  storeBands: DataFrame, shingleK: Int,
                                  numHashes: Int, bands: Int,
                                  threshold: Double, maxBucket: Int,
                                  splitInvariant: Boolean,
                                  carry: Seq[String]): DataFrame = {
    require(!carry.exists(Set("id", "sig", "admitted")),
      s"carry columns must not be named id, sig or admitted: $carry")
    // exact-signature collapse (min id per distinct signature): est
    // Jaccard between identical signatures is 1 ≥ any threshold, so
    // non-reps are dropped by the rule directly; two-seed fingerprint
    // for the same collision reason as [[minhashLsh]]'s groups. The
    // carried columns take the rep's values in the same aggregation.
    // Persisted: every consumer below reads it, so the batch lineage
    // under it (in incrementalCurate: the gate and the exact stage)
    // runs once.
    val sigs = minhashSignatures(batch, idCol, textCol, shingleK, numHashes, carry)
    val reps = graft.dsl.Rel.track(sigs
      .groupBy(xxhash64(col("sig")).as("graft_rep_fa"),
        xxhash64(lit("graft-fp2"), col("sig")).as("graft_rep_fb"))
      .agg(min(col("id")).as("id"),
        (min_by(col("sig"), col("id")).as("sig") +:
          carry.map(c => min_by(col(c), col("id")).as(c))): _*)
      .select((Seq(col("id"), checkedSig(col("sig"), "batch", numHashes).as("sig")) ++
        carry.map(col)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val repSigs = reps.select(col("id"), col("sig"))

    val repBands = reps.select(col("id"),
        posexplode(call_function("graft_band_keys_sig", col("sig"), lit(bands))))
      .toDF("id", "band", "key")

    // within-batch: same-bucket rep pairs (capped in the grouping
    // aggregation), signature-verified, dropping the larger id
    val withinDropped = bucketPairs(repBands, Seq("band", "key"), col("id"), maxBucket)
      .filter(col("a") < col("b"))
      .distinct()
      .join(repSigs.toDF("a", "sa"), "a")
      .join(repSigs.toDF("b", "sb"), "b")
      .filter(estJaccard(col("sa"), col("sb"), numHashes) >= threshold)
      .select(col("b").as("id"))

    // vs store: batch bands against capped store buckets — ONE
    // aggregation over the store's (sid, band, key) rows (derived or
    // pre-built index), one equi-join
    val storeBuckets = storeBands
      .groupBy(col("band"), col("key"))
      .agg(collect_list(col("sid")).as("ds"))
      // same disable convention as bucketPairs: maxBucket <= 0 means
      // uncapped (pre-r17 this inverted to "drop every store bucket")
      .filter(if (maxBucket > 0) size(col("ds")) <= maxBucket else lit(true))
    val crossDropped = repBands.join(storeBuckets, Seq("band", "key"))
      .select(col("id"), explode(col("ds")).as("sid"))
      .distinct()
      .join(repSigs, "id")
      .join(store0.select(col("id").as("sid"), col("sig").as("ssig")), "sid")
      .filter(estJaccard(col("sig"), col("ssig"), numHashes) >= threshold)
      .select(col("id"))

    // default path: LEFT ANTI is duplicate-insensitive, so the union
    // needs no distinct (r21 — one shuffle less per ingest); the
    // split-invariant OUTER join would duplicate reps rows on a
    // multiply-dropped id, so only that path pays the dedup
    val dropped = withinDropped.union(crossDropped)
    if (!splitInvariant) reps.join(dropped, Seq("id"), "left_anti")
    else reps
      .join(dropped.distinct().select(col("id"), lit(true).as("graft_si_dropped")),
        Seq("id"), "left_outer")
      .select((Seq(col("id"), col("sig")) ++ carry.map(col) :+
        col("graft_si_dropped").isNull.as("admitted")): _*)
  }

  /** Global sentence-level exact dedup — the C4/Dolma "keep one copy
    * of every three-sentence span / line across the corpus" operation,
    * at sentence granularity: each distinct sentence keeps ONLY its
    * first occurrence corpus-wide (first = smallest (doc id, position)
    * pair, deterministic), every later copy is dropped, and documents
    * are reassembled in original sentence order. Distinct from
    * [[graft.llm.Text.removeBoilerplate]], which drops sentences whose
    * DOCUMENT FREQUENCY exceeds a threshold from every document —
    * here frequent sentences survive exactly once, in their earliest
    * document.
    *
    * Scale shape: one hash-aggregation keyed on the 8-byte sentence
    * hash carrying the (doc, pos) argmin as a struct-min (fully
    * combiner-friendly), one join back on (hash, doc, pos), one
    * per-doc reassembly aggregation. Sentences travel the shuffle once
    * as hashes, not text. Documents whose every sentence is a later
    * copy vanish from the output (they have no content left).
    *
    * @return (doc, clean, n_kept): reassembled text + surviving
    *         sentence count.
    */
  def sentenceDedup(df: DataFrame, idCol: String, textCol: String,
                    sep: String = ". "): DataFrame = {
    val arr = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val lines = df.select(col(idCol).as("doc"),
        posexplode(arr).as(Seq("pos", "line")))
      // two-seed 128-bit key (the exactByFingerprint rule): a single
      // 64-bit hash colliding at ~1e11 distinct sentences would delete
      // every copy of the losing sentence corpus-wide
      .withColumn("lh", xxhash64(col("line")))
      .withColumn("lh2", xxhash64(lit("graft-fp2"), col("line")))
    // null doc ids: excluded from first-occurrence selection and passed
    // through unexamined — the spanDedup ADVICE-r15 convention. A null
    // doc winning min(struct) would poison the equi-join below (null
    // keys never match), deleting EVERY copy of that sentence
    // corpus-wide including the identifiable ones (r17 review).
    val firsts = lines.filter(col("doc").isNotNull)
      .groupBy(col("lh"), col("lh2"))
      .agg(min(struct(col("doc"), col("pos"))).as("f"))
      .select(col("lh"), col("lh2"), col("f.doc").as("doc"), col("f.pos").as("pos"))
    val kept = lines.join(firsts, Seq("lh", "lh2", "doc", "pos"))
      .groupBy(col("doc"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          sep).as("clean"),
        count(lit(1)).as("n_kept"))
    // null-doc passthrough is per ORIGINAL ROW, never re-grouped: a
    // groupBy(doc) treats every null id as ONE group and would merge
    // distinct null-id documents into a single interleaved row (r17
    // ADVICE). clean = original text verbatim (unexamined contract);
    // n_kept = sentence count of that row alone. No shuffle, no tag.
    val nullPass = df.filter(col(idCol).isNull)
      .select(col(idCol).as("doc"), col(textCol).as("clean"),
        // ANSI-off size(null) = -1 (the Text leak family) — guard it
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(arr).cast("long")).as("n_kept"))
    kept.unionByName(nullPass)
  }

  /** Exact duplicated-span (substring-level) dedup — the ExactSubstr
    * operation of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", re-expressed bucketed instead of
    * suffix-array-over-the-corpus: any k-token window occurring ≥ 2
    * times corpus-wide is a duplicated span; every occurrence EXCEPT
    * the first (min (doc, pos) — the [[sentenceDedup]] convention,
    * deterministic) has its k tokens excised, overlapping duplicate
    * windows merging naturally into maximal removed spans; surviving
    * tokens reassemble in original order. Completes the granularity
    * ladder: document ([[exactByFingerprint]]), sentence
    * ([[sentenceDedup]]), span (this), near-dup ([[minhashLsh]] /
    * [[simhashPairs]]), semantic ([[semDedup]]) — span removal of
    * repeated ≥k-token sequences across otherwise-distinct documents
    * is what the public pipelines (RefinedWeb, Dolma) layer on top of
    * the others.
    *
    * Scale shape — why not a corpus suffix array: grams travel the
    * shuffle as (doc, pos, 8-byte hash) rows via the codegen'd
    * `graft_gram_hashes` kernel — text never shuffles. ONE
    * hash-aggregation keyed on the gram hash carries the corpus count
    * and the (doc, pos) argmin as a struct-min (fully
    * combiner-friendly); only duplicated grams (a vast minority) come
    * back through an 8-byte-key join against the gram stream, collapse
    * to a per-doc sorted bad-start list, and ONE equi-join attaches
    * that to the doc scan where the rewrite is per-row array math.
    * Rewrite cost is O(tokens · bad_starts) per document — bounded by
    * doc length squared only for a pathological fully-duplicated doc,
    * which exits early anyway (all tokens excised → doc vanishes).
    *
    * Docs whose every token sits inside a later-occurrence duplicated
    * window vanish from the output (nothing left), like
    * [[sentenceDedup]]. Equality with a string-keyed oracle is modulo
    * a ≈ n²/2⁶⁵ 64-bit gram-hash collision.
    *
    * `keepFirst = false` switches to the strict Lee et al. form: EVERY
    * occurrence of a duplicated window is excised, the first included
    * (the paper removes the repeated sequence itself, keeping no copy —
    * its rationale is that memorized spans hurt regardless of which
    * copy survives). The default keeps the first occurrence, the
    * [[sentenceDedup]]-family convention.
    *
    * @return (doc, clean, n_kept): reassembled text + surviving token
    *         count.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                k: Int = 8, keepFirst: Boolean = true): DataFrame = {
    require(k >= 2, s"spanDedup needs k >= 2 token windows, got $k")
    val grams = df.select(col(idCol).as("doc"),
      posexplode(call_function("graft_gram_hashes", col(textCol), lit(k)))
        .as(Seq("gpos", "gh")))
    // duplicated grams only, each with its first corpus-wide occurrence
    val dups = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc"), col("gpos"))).as("first"))
      .filter(col("c") >= 2)
      .select(col("gh"), col("first"))
    // excised window starts per doc: non-first occurrences, or ALL
    // occurrences in the strict form. Null-safe comparison (ADVICE
    // r15): a null doc id sorts first in min(struct), and plain =!=
    // against it yields NULL — silently keeping every other doc's copy.
    // With <=> the non-null copies are excised; the null-doc rows
    // themselves pass through the reassembly equi-join unexcised, the
    // same null semantics as the q115 oracle's NOT EXISTS.
    val bad = grams.join(dups, Seq("gh"))
      .filter(if (keepFirst)
          !(col("doc") <=> col("first.doc")) || !(col("gpos") <=> col("first.gpos"))
        else lit(true))
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(col("gpos"))).as("bad"))
    // rewrite: token i is removed iff some bad start s covers it
    // (s ≤ i < s+k); concat_ws skips the nulled-out tokens
    df.select(col(idCol).as("doc"), split(col(textCol), " ").as("t"))
      .join(bad, Seq("doc"), "left")
      .select(col("doc"), col("t"),
        coalesce(col("bad"), array().cast("array<int>")).as("bad"))
      .select(col("doc"),
        zip_with(col("t"),
          transform(sequence(lit(0), size(col("t")) - 1),
            i => exists(col("bad"), s => s <= i && i < s + k)),
          (tok, f) => when(f, lit(null).cast("string")).otherwise(tok))
          .as("kept"))
      .select(col("doc"),
        concat_ws(" ", col("kept")).as("clean"),
        size(filter(col("kept"), x => x.isNotNull)).cast("long").as("n_kept"))
      .filter(col("n_kept") > 0)
  }

  /** Benchmark-contamination scan: for every corpus document, count the
    * distinct k-word shingles it shares with a benchmark/eval set — the
    * standard decontamination pass (k = 8 by convention) run before
    * training-corpus publication. Returns (doc, n_hits) for documents
    * with ≥ 1 overlapping shingle.
    *
    * Scale shape: the benchmark side is small by definition, so its
    * hashed shingle set broadcasts and the corpus never shuffles — the
    * scan is one map-side join over per-partition kernel output plus a
    * per-doc count. For benchmark sets too big to broadcast, swap the
    * broadcast join for [[graft.ops.BloomJoin]] (probe stays map-side,
    * false positives bounded by the filter's fpp).
    */
  def contamination(df: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    k: Int = 8): DataFrame = {
    // both sides shingle through the codegen'd `graft_shingle_hashes`
    // (delegates to [[shingleHashSet]] — identical hashes); the explode
    // stays in the same codegen stage as the scan
    val docSh = df.select(col(idCol).as("doc"),
      explode(call_function("graft_shingle_hashes", col(textCol), lit(k))).as("h"))
    val benchSh = bench.select(
        explode(call_function("graft_shingle_hashes", col(benchTextCol), lit(k))).as("h"))
      .distinct()
    docSh.join(broadcast(benchSh), "h")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_hits")) // docSh rows are distinct per doc
  }

  /** Connected components over a near-duplicate pair graph — the step a
    * real dedup pipeline runs AFTER pair generation: pairs chain into
    * clusters (A≈B, B≈C ⇒ {A,B,C} even when A,C were never emitted as
    * a pair), and the cluster's min id becomes the keeper.
    *
    * Algorithm: iterative min-label propagation with automatic
    * escalation. label(v) starts at min(v, neighbors); each round takes
    * the min of the neighbors' labels; fixpoint when no label changes
    * (checked with one count per round, like the k-means loop). Rounds
    * needed = cluster diameter — near-dup clusters are dense (LSH emits
    * most intra-cluster pairs), so 2-4 rounds in practice. If the graph
    * has NOT converged after `starAfter` rounds (a high-diameter chain —
    * the shape propagation is worst at), the method escalates to the
    * large-star/small-star contraction of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 ([[starContraction]],
    * O(log² n) rounds on any graph) instead of aborting — so a 100 TB
    * pair graph with one long chain degrades to a few extra rounds, not
    * a pipeline failure.
    *
    * Scale: each round is one join + one aggregation over (edge,
    * label) rows — 16 bytes each, linear shuffles, no vertex ever holds
    * its component's member list. Only pair endpoints are labeled
    * (singletons are implicitly their own component).
    *
    * Fault tolerance: each round's labels are `localCheckpoint`ed —
    * lineage is truncated, so losing an executor mid-computation loses
    * the checkpoint blocks and fails the job (acceptable: rounds are
    * few and the job restarts from the persisted edge set; a
    * cluster-mode deployment that needs mid-job recovery should use
    * reliable `checkpoint` to a DFS instead).
    *
    * `smallGraph`: when the DISTINCT symmetric edge list holds at most
    * this many rows (and ids are longs), components are computed
    * driver-side with union-find over the collected edges — the same
    * model-sized-object reasoning as the ANN codebook training:
    * 2·10⁵ edge rows ≈ 3 MB, while the iterative path costs
    * rounds × (join + aggregate + checkpoint) driver-scheduled jobs.
    * Labels are IDENTICAL (min-id component, property-tested against
    * the distributed path); ≤ 0 disables the shortcut (the
    * propagation/star-machinery specs force the distributed path this
    * way). The threshold check is one count on the already-persisted
    * edge frame the loop would scan anyway.
    *
    * @return (doc, component, is_keeper): component = min id reachable,
    *         is_keeper = (doc == component).
    */
  def components(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                 maxIters: Int = 20, starAfter: Int = 5,
                 smallGraph: Long = 200000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // symmetric closure via a map-side explode, NOT a self-union: the
    // incoming `pairs` is typically an expensive unpersisted plan (the
    // whole LSH pipeline for q77), and a union would evaluate it once
    // per branch — explode emits both orientations from a single scan
    val edges = graft.dsl.Rel.track(
      pairs.select(explode(array(
          struct(col(idA).as("a"), col(idB).as("b")),
          struct(col(idB).as("a"), col(idA).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .distinct()
        .persist(MEMORY_AND_DISK))
    if (smallGraph > 0 &&
        edges.schema("a").dataType == org.apache.spark.sql.types.LongType &&
        edges.count() <= smallGraph) {
      val rows = edges.collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      // union-by-min: the root of every set IS the min id, so find()
      // directly yields the component label
      rows.foreach { r =>
        val x = find(r.getLong(0)); val y = find(r.getLong(1))
        if (x != y) { if (x < y) parent.put(y, x) else parent.put(x, y) }
      }
      val verts = scala.collection.mutable.LinkedHashSet[Long]()
      rows.foreach { r => verts += r.getLong(0); verts += r.getLong(1) }
      val out = verts.toSeq.map { v =>
        val c = find(v)
        org.apache.spark.sql.Row(v, c, v == c)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("is_keeper", org.apache.spark.sql.types.BooleanType, nullable = false)))
      return pairs.sparkSession.createDataFrame(
        pairs.sparkSession.sparkContext.parallelize(out, 1), schema)
    }
    // eager localCheckpoint per round: materializes the labels AND
    // truncates lineage — without it each round's plan embeds every
    // previous round's joins and Catalyst analysis time explodes with
    // the iteration count (the standard iterative-DataFrame pitfall)
    var lab = edges.groupBy(col("a")).agg(min(col("b")).as("mn"))
      .select(col("a").as("v"), least(col("a"), col("mn")).as("lbl"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    val propBudget = math.min(starAfter, maxIters)
    while (changed > 0 && rounds < propBudget) {
      val prop = edges
        .join(lab.select(col("v").as("b"), col("lbl").as("nl")), "b")
        .groupBy(col("a")).agg(min(col("nl")).as("mn"))
      // convergence flag rides the checkpointed rows — counting it is a
      // scan of the checkpoint blocks, not another join against `lab`
      val nextChg = lab
        .join(prop.select(col("a").as("v"), col("mn")), Seq("v"))
        .select(col("v"), least(col("lbl"), col("mn")).as("lbl"),
          (col("mn") < col("lbl")).as("chg"))
        .localCheckpoint(true)
      changed = nextChg.filter(col("chg")).count()
      lab = nextChg.select(col("v"), col("lbl"))
      rounds += 1
    }
    val labeled =
      if (changed == 0L) lab
      else {
        // diameter exceeds the propagation budget — escalate to the
        // round-logarithmic contraction rather than burning one round
        // per hop (or aborting, as this method did before round 9).
        // The contraction gets its OWN budget, not maxIters: rounds
        // needed ~ log2(diameter) + slack, and 64 covers any graph
        // whose ids fit in a Long — tying it to maxIters would re-abort
        // on exactly the multi-million-node chains escalation exists for
        val stars = starContraction(edges, math.max(maxIters, 64))
        lab.select(col("v"))
          .join(stars.select(col("a").as("v"), col("b").as("ctr")), Seq("v"), "left")
          .select(col("v"), coalesce(col("ctr"), col("v")).as("lbl"))
      }
    labeled.select(col("v").as("doc"), col("lbl").as("component"),
      (col("v") === col("lbl")).as("is_keeper"))
  }

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14
    * §3, Two-Phase algorithm) — the high-diameter escalation path for
    * [[components]]. Each round halves long chains, so convergence is
    * O(log² n) rounds on ANY graph, vs diameter rounds for label
    * propagation.
    *
    * Edges are kept in larger→smaller canonical form `(a, b), a > b`:
    *  - large-star (over the symmetric closure): per node `a` with
    *    neighbor set N, every neighbor `w > a` is re-pointed at
    *    `m = min(N ∪ {a})` — expressed as a per-node min aggregation
    *    joined back to the edge list (NO collect_set: a hub node's
    *    neighbor list never materializes on one executor).
    *  - small-star: per node `a` (all neighbors smaller), neighbors and
    *    `a` itself are re-pointed at `m = min(N)`.
    * Fixpoint (edge set unchanged — checked as count equality + one
    * `except` emptiness, both over distinct sets) is a union of stars
    * centered at each component's minimum id, so the final edge list IS
    * the (member → component-min) mapping.
    *
    * Scale shape: per round two aggregations + two joins over 16-byte
    * edge rows, `localCheckpoint` lineage truncation per round (same
    * tradeoff as [[components]] — see its scaladoc).
    */
  private[graft] def starContraction(edgesSym: DataFrame, maxIters: Int): DataFrame =
    starContractionImpl(edgesSym, maxIters)._1

  /** [[starContraction]] plus the rounds it ran — the O(log² n)
    * convergence bound is property-tested against this count. */
  private[graft] def starContractionImpl(edgesSym: DataFrame, maxIters: Int): (DataFrame, Int) = {
    var cur = edgesSym.filter(col("a") > col("b")).distinct().localCheckpoint(true)
    var curN = cur.count()
    var rounds = 0
    var done = false
    while (!done && rounds < maxIters) {
      // sym's two consumers (m1, ls) re-scan only checkpoint blocks, so
      // the union here is NOT the q77 double-evaluation shape
      val sym = cur.union(cur.select(col("b").as("a"), col("a").as("b")))
      val m1 = sym.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      // ls IS that shape: an unpersisted join+distinct consumed by m2
      // AND by the ss join (and m2 again by ss's union branch) — without
      // the persist the large-star subplan runs up to 3x per round
      val ls = sym.join(m1, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val m2 = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
      val ss = ls.join(m2, "a").filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(m2.select(col("a"), col("m").as("b")))
        .distinct()
        .localCheckpoint(true)
      val ssN = ss.count()
      ls.unpersist(blocking = false)
      done = ssN == curN && ss.except(cur).isEmpty
      cur = ss
      curN = ssN
      rounds += 1
    }
    require(done,
      s"star contraction did not converge in $maxIters rounds — " +
        "O(log² n) bound exceeded; raise maxIters")
    (cur, rounds)
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold, candidates from
    * sign-LSH buckets (see [[Similarity.lshBucket]]), verified exactly.
    * `maxBucket` drops pathological buckets (e.g. the all-zeros bucket a
    * degenerate embedding model emits) before the quadratic self-join.
    *
    * `tables` > 1 builds a multi-table (OR-of-ANDs) index — table t
    * hashes with its own disjoint hyperplane family (plane offset
    * t·planes) and a pair is a candidate if it shares a bucket in ANY
    * table. This is the recall knob the single bucket lacks: at
    * corpus scale `planes` must grow so buckets stay bounded
    * (2^planes cells), which shrinks per-table collision probability
    * for near (not identical) pairs ((1-θ/π)^planes); adding tables
    * restores recall (1-(1-p)^T) at linear cost — the exact analog of
    * minhash banding, with the same shapes: candidates come from a
    * per-(table, bucket) grouped expansion (one shuffle, map-side
    * quadratic bounded by `maxBucket`), duplicates across tables
    * collapse BEFORE verification, and vectors re-join by id for the
    * exact-cosine check rather than riding the candidate shuffle.
    * `tables = 1` is bit-identical to the original single-table path.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double = 0.95, planes: Int = 8,
                       maxBucket: Int = 100000, tables: Int = 1): DataFrame = {
    // one code path for any table count: table 0 is the plain bucket
    // (offset 0), so tables=1 emits exactly the single-table pair set.
    // bucketPairs expands candidates map-side from the grouped bucket
    // (one shuffle of (tbl, bucket, id) triples, cap applied in the
    // same aggregation) and vectors re-join by id for the exact-cosine
    // verify — the earlier single-table self-join re-evaluated the
    // bucket per join side and carried vectors through the candidate
    // shuffle (the anti-pattern bucketPairs' scaladoc documents).
    val vecs = df.select(col(idCol).as("doc"), col(vecCol).as("v"))
    val banded = Similarity.bandedBuckets(df, idCol, vecCol, planes, tables)
    val cand = bucketPairs(banded, Seq("tbl", "bucket"), col("doc"), maxBucket)
      .filter(col("a") < col("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
    cand.join(vecs.toDF("id_a", "va"), "id_a")
      .join(vecs.toDF("id_b", "vb"), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosineExpr(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup — semantic deduplication over an embedding column
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — public paper):
    * embeddings cluster into k-means cells; ONLY within-cell pairs are
    * cosine-compared (the cells shard the quadratic, exactly the
    * paper's use of clustering — never all-pairs); pairs at or above
    * `threshold` form a duplicate graph whose connected components
    * each keep one representative. Keeper = min id (deterministic and
    * re-checkable; the paper keeps the item with the lowest similarity
    * to the centroid — documented deviation, identical removal sets up
    * to choice of representative).
    *
    * Scale shape: assignment is one codegen'd pass over the corpus
    * (foldable codebook literal, [[Similarity.nearestCellsExpr]]); the
    * pair join is a cell equi-join whose cost is bounded by cell
    * population — `nCells` is the budget knob, growing with the corpus
    * like the paper's cluster count; components run the
    * large-star/small-star min-label machinery of [[components]].
    * Vectors do NOT ride the pair shuffle: the cell join carries ids,
    * and vectors re-join by id for the exact cosine (the bucketPairs
    * discipline above).
    *
    * @return (id, cell, component, is_keeper) for every input row.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               nCells: Int = 16, threshold: Double = 0.8,
               iters: Int = 3, smallGraph: Long = 200000L,
               maxCell: Int = 1000000): DataFrame = {
    val cents = Similarity.kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
    val assigned = graft.dsl.Rel.track(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
          Similarity.nearestCellsExpr(cents, 1)(col(vecCol))(0).as("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ids = assigned.select(col("cell"), col("id"))
    // bucketPairs-style cap on the quadratic: a cell over maxCell
    // (degenerate embeddings, nCells too small for the corpus) is
    // excluded from pairing — its members all stay keepers — instead
    // of emitting an uncapped ~n^2/2 candidate set. okCells is
    // nCells rows at most: broadcast. maxCell <= 0 disables.
    val okCells = ids.groupBy(col("cell")).count()
      .filter(if (maxCell > 0) col("count") <= maxCell else lit(true))
      .select(col("cell"))
    val pairable = ids.join(broadcast(okCells), "cell")
    val cand = pairable.toDF("cell", "id_a")
      .join(pairable.toDF("cell", "id_b"), "cell")
      .filter(col("id_a") < col("id_b"))
    val vecs = assigned.select(col("id"), col("v"))
    val pairs = cand
      .join(vecs.toDF("id_a", "va"), "id_a")
      .join(vecs.toDF("id_b", "vb"), "id_b")
      .filter(Similarity.cosineExpr(col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val comp = components(pairs, smallGraph = smallGraph).withColumnRenamed("doc", "id")
    assigned.select(col("id"), col("cell"))
      .join(comp, Seq("id"), "left_outer")
      .select(col("id"), col("cell"),
        coalesce(col("component"), col("id")).as("component"),
        coalesce(col("is_keeper"), lit(true)).as("is_keeper"))
  }
}
