package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Byte-pair-encoding subword learning (Sennrich et al., ACL 2016)
  * re-expressed for Spark's execution model.
  *
  * The classic efficiency argument carries straight over to 100 TB:
  * BPE is learned from the WORD-FREQUENCY TABLE, not the corpus — so
  * the single corpus-sized pass is the word count (one map-combined
  * groupBy), and every one of the N merge iterations runs over the
  * vocabulary table (Heaps-law-sized: millions of rows where the
  * corpus has trillions of tokens). Per iteration: one pair-count
  * aggregate (map-side combined, weighted by word frequency), a 1-row
  * argmax collect, and a map-only [[graft.expressions.MergeAdjacent]]
  * pass updating the symbol sequences. Determinism: argmax ties break
  * lexicographically on the pair, so replays agree.
  */
object Bpe {

  /** One corpus pass: (word, n) frequency table over the whitespace
    * tokenization. The ONLY corpus-sized stage of BPE learning.
    */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(T.tokens(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Adjacent-pair counts over current symbol sequences, weighted by
    * word frequency: the argmax input of one merge iteration.
    * `syms` must have columns (syms: array<string>, n: long).
    */
  def pairCounts(syms: DataFrame): DataFrame =
    syms.select(col("n"), col("syms"), posexplode(col("syms")).as(Seq("__i", "a")))
      .withColumn("b", // posexplode is 0-based; NULL past the end
        expr("try_element_at(syms, __i + 2)"))
      .where(col("b").isNotNull)
      .groupBy("a", "b").agg(sum(col("n")).as("count"))

  /** Character symbol sequences of the word table: the iteration-0
    * state (every character its own symbol; no end-of-word marker —
    * a documented simplification, the merge dynamics are identical).
    */
  def charSyms(words: DataFrame): DataFrame =
    words.select(
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"),
      col("n"))

  /** Code-point comparison — the SAME total order as UTF-8 unsigned
    * byte comparison, which is what Spark's UTF8String sort (and hence
    * [[trainMergesBatched]]'s `orderBy` on strings)
    * uses. Java's `String.compareTo` orders by UTF-16 code UNIT, which
    * diverges for supplementary-plane symbols (a surrogate 0xD800-
    * 0xDFFF sorts below BMP chars ≥ 0xE000 even though its code point
    * is larger), so a local argmax tie-break built on `<` would pick a
    * different merge than the Spark learners on a count tie involving
    * non-BMP symbols (pinned with a real emoji tie in `BpeSpec`).
    */
  private def cmpCodePoints(a: String, b: String): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(a.length, b.length)
  }

  /** True iff pair (a1, b1) precedes (a2, b2) in the Spark learners'
    * tie-break order: (a, b) ascending under UTF-8 byte order.
    */
  private def pairLt(a1: String, b1: String, a2: String, b2: String): Boolean = {
    val c = cmpCodePoints(a1, a2)
    c < 0 || (c == 0 && cmpCodePoints(b1, b2) < 0)
  }

  /** Driver-local BPE merge loop — the Sennrich reference shape taken
    * literally: BPE trains on the WORD-FREQUENCY TABLE, and that table
    * is Heaps-law-sized (103k rows at the 500k-doc decade), so once it
    * fits driver memory the classic in-memory learner with INCREMENTAL
    * pair-count maintenance beats any per-merge Spark job by orders of
    * magnitude — no job latency, no shuffle, counts updated only for
    * the words a merge touches. Spark still does the one corpus-sized
    * stage (the word count); the learned list is IDENTICAL to the
    * sequential one-job-per-merge learner (pinned in `BpeSpec`): raw adjacency counts
    * weighted by word frequency (overlaps counted, as in
    * [[pairCounts]]), greedy left-to-right non-overlapping merge
    * application, argmax ties broken on (a, b) in UTF-8 byte order
    * (= code-point order — see [[cmpCodePoints]]).
    *
    * DRIVER-MEMORY GUARD, sized BEFORE the collect: the learner's
    * resident cost is dominated by per-codepoint symbol Strings plus
    * the pair-count/inverted-index maps — roughly 240 bytes per word
    * CHARACTER and 200 per word row on a 64-bit JVM (String header +
    * byte[] ≈ 48 B/char, array slot 8, map/set entries ≈ 150 per
    * adjacent pair, of which there are ~chars per word). Both factors
    * are measured from the word table itself with one vocab-sized
    * aggregate (count + char sum) BEFORE anything is collected, so an
    * oversized table fails loudly — or falls back — instead of OOMing
    * the driver mid-collect. `maxWords` stays as a hard row cap
    * (default 2M ≈ tens-of-MB of rows, ~3 GB estimated resident at
    * avg 6 chars/word).
    *
    * Use this under the guard; [[trainMergesBatched]] is the
    * beyond-driver path (a 100 TB corpus's word table may not fit).
    *
    * @param maxWords hard cap on word-table rows collected
    * @param maxBytes cap on the ESTIMATED resident bytes (default:
    *                 40% of the driver's max heap)
    * @param fallbackToBatched when true (the default), an over-budget
    *                 table trains via [[trainMergesBatched]]
    *                 (contract-identical list) instead of throwing —
    *                 so callers whose word tables outgrow the driver
    *                 keep training rather than regressing to an
    *                 exception; pass false to make the budget a hard
    *                 assertion
    */
  def trainMergesLocal(docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int = 2000000,
      maxBytes: Long = (Runtime.getRuntime.maxMemory * 0.4).toLong,
      fallbackToBatched: Boolean = true): Seq[(Int, String, String)] = {
    require(nMerges >= 1, s"nMerges=$nMerges")
    val words = wordTable(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val collected = try {
      // pre-collect sizing pass: one cheap aggregate over the (already
      // computed, persisted) vocab-sized table — never a corpus pass
      val sized = words.agg(count(lit(1)).as("rows"),
        coalesce(sum(length(col("word")).cast("long")), lit(0L)).as("chars"))
        .collect()(0)
      val (rows, chars) = (sized.getLong(0), sized.getLong(1))
      val estBytes = chars * 240L + rows * 200L
      val fits = rows <= maxWords && estBytes <= maxBytes
      if (!fits && fallbackToBatched) {
        words.unpersist(blocking = false)
        return trainMergesBatched(docs, textCol, nMerges)
      }
      require(fits,
        s"word table too large for the driver-local learner BEFORE " +
          s"collect: rows=$rows (maxWords=$maxWords), estimated " +
          s"resident bytes=$estBytes (maxBytes=$maxBytes, from $chars " +
          s"chars x 240 + rows x 200) - use trainMergesBatched")
      words.collect()
    } finally words.unpersist(blocking = false)
    // split per CODE POINT, matching charSyms' substring(word, i, 1)
    // semantics (a UTF-16-unit split would diverge on non-BMP chars)
    def charsOf(s: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        val cc = Character.charCount(s.codePointAt(i))
        out += s.substring(i, i + cc)
        i += cc
      }
      out.toArray
    }
    val syms: Array[Array[String]] = collected.map(r => charsOf(r.getString(0)))
    val freq: Array[Long] = collected.map(_.getLong(1))

    val counts = new java.util.HashMap[(String, String), Long]()
    val pairWords = new java.util.HashMap[(String, String),
      java.util.HashSet[Integer]]()
    def addPair(p: (String, String), n: Long, wi: Int): Unit = {
      val c = counts.getOrDefault(p, 0L) + n
      if (c == 0L) counts.remove(p) else counts.put(p, c)
      pairWords.computeIfAbsent(p, _ => new java.util.HashSet[Integer]())
        .add(Integer.valueOf(wi))
    }
    def dropWord(p: (String, String), n: Long, wi: Int): Unit = {
      val c = counts.getOrDefault(p, 0L) - n
      if (c == 0L) counts.remove(p) else counts.put(p, c)
      val s = pairWords.get(p)
      if (s != null) { s.remove(Integer.valueOf(wi)); if (s.isEmpty) pairWords.remove(p) }
    }
    def pairsOf(w: Array[String]): Seq[(String, String)] =
      (0 until w.length - 1).map(i => (w(i), w(i + 1)))
    var wi = 0
    while (wi < syms.length) {
      pairsOf(syms(wi)).groupBy(identity).foreach { case (p, occ) =>
        val c = counts.getOrDefault(p, 0L) + occ.size * freq(wi)
        counts.put(p, c)
        pairWords.computeIfAbsent(p, _ => new java.util.HashSet[Integer]())
          .add(Integer.valueOf(wi))
      }
      wi += 1
    }
    // one greedy left-to-right non-overlapping pass (≡ MergeAdjacent)
    def mergeOnce(w: Array[String], a: String, b: String,
        ab: String): Array[String] = {
      val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        if (i + 1 < w.length && w(i) == a && w(i + 1) == b) {
          out += ab; i += 2
        } else { out += w(i); i += 1 }
      }
      out.toArray
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      // argmax: count desc, then (a, b) ascending in UTF-8 byte order
      // (= code-point order), matching the Spark learners' orderBy
      var best: (String, String) = null
      var bestC = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val p = e.getKey
        val c = e.getValue
        if (best == null || c > bestC ||
          (c == bestC && pairLt(p._1, p._2, best._1, best._2))) {
          best = p; bestC = c
        }
      }
      if (best == null) exhausted = true
      else {
        val (a, b) = best
        val ab = a + b
        merges += ((r, a, b))
        val touched = pairWords.get(best)
        if (touched != null) {
          val ids = touched.toArray(new Array[Integer](touched.size()))
          var k = 0
          while (k < ids.length) {
            val w = ids(k).intValue()
            val old = syms(w)
            val neu = mergeOnce(old, a, b, ab)
            val n = freq(w)
            // full per-word delta: retract every old pair occurrence,
            // admit every new one (exact, handles self-pairs/overlaps)
            pairsOf(old).groupBy(identity).foreach { case (p, occ) =>
              dropWord(p, occ.size * n, w) }
            pairsOf(neu).groupBy(identity).foreach { case (p, occ) =>
              addPair(p, occ.size * n, w) }
            syms(w) = neu
            k += 1
          }
        }
        r += 1
      }
    }
    merges.toSeq
  }

  /** Encode words with a learned merge list: apply every merge in
    * rank order (the standard encode — greedy in learned priority).
    * Map-only: the full ordered list rides inside ONE
    * [[graft.expressions.MergeList]] kernel (chaining one
    * [[graft.expressions.MergeAdjacent]] per merge is exact but blows
    * codegen/planner limits past a few hundred merges; the kernel is
    * pinned ≡ the chain in `BpeSpec`). Adds/overwrites a `syms`
    * column; every input column survives.
    */
  def applySyms(words: DataFrame,
      merges: Seq[(Int, String, String)]): DataFrame =
    words.withColumn("syms",
      graft.expressions.MergeList.merge(
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        merges.sortBy(_._1).map(m => (m._2, m._3))))

  /** Learn `nMerges` BPE merges in batched passes — the SAME list as
    * the sequential one-job-per-merge learner (pinned in `BpeSpec`), at a fraction of the
    * driver-loop latency: one pair-count job can safely commit a whole
    * PREFIX of the ranked pair list, not just its head, whenever no
    * earlier commit could have changed a later pick.
    *
    * Soundness (why batched ≡ sequential, not just deterministic):
    * walking pairs in (count DESC, a, b) order, pair p_i may join the
    * batch only while
    *
    *  1. its symbols are disjoint from every earlier batch member's
    *     {a_j, b_j, a_j+b_j} — so applying those merges cannot touch
    *     p_i's own count;
    *  2. count(p_i) > cap_j for every earlier member, where cap_j
    *     bounds the count of ANY pair a merge chain seeded by p_j can
    *     create: a new pair (x, ab) needs an "x a b" occurrence
    *     (≤ count(x,a) ≤ maxIn(a)), (ab, y) needs "a b y"
    *     (≤ count(b,y) ≤ maxOut(b)), and every occurrence consumes a
    *     p_j occurrence (≤ count(p_j)) — so at p_i's sequential turn
    *     no created pair can outrank it, and ties are impossible
    *     (strict >);
    *  3. earlier members' merged symbols are FRESH strings (not the
    *     initial alphabet, not a previously created symbol): a
    *     colliding symbol could boost an EXISTING pair's count past
    *     the bound in (2). The symbol universe is driver-known by
    *     construction — the initial alphabet plus every merge's a+b —
    *     so freshness is an exact set probe, no extra job.
    *
    * The first violation CLOSES the batch (pairs are committed in rank
    * order, never skipped past), so each pass commits a verified
    * prefix — worst case 1 merge (= sequential), typical tens.
    * maxIn/maxOut are bounded from the collected top-`topK` slice: a
    * pair outside the slice has count ≤ the slice minimum, so the
    * bound stays sound when the pair table is bigger than the slice.
    *
    * @param maxBatch  hard cap on merges per pass (bounds the
    *                  [[graft.expressions.MergeList]] work per row)
    * @param topK      ranked pairs collected per pass (driver-side,
    *                  bounded memory)
    */
  def trainMergesBatched(docs: DataFrame, textCol: String, nMerges: Int,
      maxBatch: Int = 64, topK: Int = 512): Seq[(Int, String, String)] = {
    val words = wordTable(docs, textCol)
    batchedLoop(words, nMerges, maxBatch, topK)._1
  }

  /** One BPE training run's full artifact set, shared so downstream
    * stages never re-scan the corpus for what training already
    * computed: the merge list, the training ALPHABET (every distinct
    * single-code-point symbol, UTF-8 byte order — exactly [[vocab]]'s
    * alphabet leg, which used to cost a second corpus pass), and the
    * MATERIALIZED word-frequency table (localCheckpoint — vocab-sized
    * blocks, auto-cleaned by the ContextCleaner once unreferenced) for
    * [[encodeIds]]/[[subwordCounts]] to use as their distinct-word set
    * instead of re-shuffling the corpus token stream.
    */
  final case class TrainedBpe(merges: Seq[(Int, String, String)],
      alphabet: Seq[String], words: DataFrame)

  /** [[trainMergesBatched]] returning the full [[TrainedBpe]] artifact:
    * same merge list (one shared loop), plus the alphabet and the
    * checkpointed word table. Callers composing train → vocab → encode
    * save one full corpus pass (the [[vocab]] alphabet scan) and one
    * corpus-token shuffle (the encode-side word distinct) per run.
    */
  def trainBpe(docs: DataFrame, textCol: String, nMerges: Int,
      maxBatch: Int = 64, topK: Int = 512): TrainedBpe = {
    val words = wordTable(docs, textCol).localCheckpoint(true)
    val (merges, alphabet) = batchedLoop(words, nMerges, maxBatch, topK)
    TrainedBpe(merges, alphabet, words)
  }

  /** The batched learner's shared loop over a prepared word table.
    * Returns (merges, alphabet in UTF-8 byte order).
    */
  private def batchedLoop(words: DataFrame, nMerges: Int,
      maxBatch: Int, topK: Int): (Seq[(Int, String, String)], Seq[String]) = {
    require(nMerges >= 1, s"nMerges=$nMerges")
    require(maxBatch >= 1, s"maxBatch=$maxBatch")
    require(topK >= maxBatch, s"topK=$topK < maxBatch=$maxBatch")
    var syms = charSyms(words)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // symbol universe = initial alphabet ∪ {a+b of merges applied};
    // the alphabet is one tiny distinct over 1-char symbols
    val alphabet = syms.select(explode(col("syms")).as("s")).distinct()
      .collect().map(_.getString(0)).toIndexedSeq
      .sortWith(cmpCodePoints(_, _) < 0)
    val known = scala.collection.mutable.Set[String](alphabet: _*)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    try {
      var pass = 0
      var exhausted = false
      while (merges.size < nMerges && !exhausted) {
        val top = pairCounts(syms)
          .orderBy(desc("count"), col("a"), col("b")).limit(topK)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        if (top.isEmpty) exhausted = true
        else {
          // pairs beyond the collected slice exist only if the slice is
          // full; they are bounded by its minimum count
          val sliceMin = if (top.length == topK) top.last._3 else 0L
          def maxIn(s: String): Long = // max count of pairs ending at s
            (top.iterator.filter(_._2 == s).map(_._3) ++ Iterator(sliceMin)).max
          def maxOut(s: String): Long = // max count of pairs starting at s
            (top.iterator.filter(_._1 == s).map(_._3) ++ Iterator(sliceMin)).max
          val used = scala.collection.mutable.Set.empty[String]
          val caps = scala.collection.mutable.ArrayBuffer.empty[Long]
          val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          val budget = math.min(maxBatch, nMerges - merges.size)
          var open = true
          var i = 0
          while (open && batch.size < budget && i < top.length) {
            val (a, b, c) = top(i)
            val ab = a + b
            if (used.contains(a) || used.contains(b) || used.contains(ab))
              open = false
            else if (caps.exists(c <= _)) open = false
            else {
              batch += ((a, b))
              if (known.contains(ab)) open = false // commit, then close
              known += ab
              used += a; used += b; used += ab
              caps += math.min(c, math.max(maxIn(a), maxOut(b)))
            }
            i += 1
          }
          val r0 = merges.size
          merges ++= batch.zipWithIndex.map { case ((a, b), k) => (r0 + k, a, b) }
          val next = syms.select(
            graft.expressions.MergeList.merge(col("syms"), batch.toSeq).as("syms"),
            col("n"))
          val mat =
            if ((pass + 1) % 8 == 0) next.localCheckpoint(true)
            else next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          syms.unpersist(blocking = false)
          syms = mat
          pass += 1
        }
      }
    } finally syms.unpersist(blocking = false)
    (merges.toSeq, alphabet)
  }

  /** Deterministic symbol → id vocabulary assembly — the artifact a
    * tokenizer ships: ids 0..A-1 are the corpus ALPHABET (every
    * distinct single-code-point symbol of the word table) in UTF-8
    * byte order, followed by one id per merge in learned rank order
    * (the merge's concatenated symbol a+b). This is the standard BPE
    * vocab layout (Sennrich ACL'16): alphabet first so encode can
    * never produce an out-of-vocabulary id on training-corpus text,
    * merge symbols in rank order so vocab ids are stable under vocab
    * GROWTH (training 40k merges after shipping 32k only APPENDS ids).
    *
    * A later merge can re-create a symbol string an earlier merge
    * already produced (("a","bc") after ("ab","c") both make "abc");
    * ids stay DENSE and the first producer keeps the id — later
    * duplicates are skipped, exactly like the encode side where one
    * symbol string is one vocabulary entry.
    *
    * Driver-side by design: the vocabulary is alphabet + merges —
    * tens of thousands of entries, the size a tokenizer file has to
    * be anyway. The one corpus-sized stage is [[wordTable]]; the
    * alphabet distinct runs over the vocab-sized word table.
    */
  def vocab(docs: DataFrame, textCol: String,
      merges: Seq[(Int, String, String)]): Seq[(Int, String)] = {
    val alphabet = wordTable(docs, textCol)
      .select(explode(
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("s"))
      .distinct().collect().map(_.getString(0))
      .sortWith(cmpCodePoints(_, _) < 0)
    vocabFromAlphabet(alphabet.toSeq, merges)
  }

  /** [[vocab]] assembly from an ALREADY-KNOWN alphabet (e.g.
    * [[TrainedBpe.alphabet]] — training collects exactly this set), so
    * composed train → vocab pipelines skip [[vocab]]'s second corpus
    * pass. Pure driver-side; `alphabet` must be the training corpus's
    * distinct single-code-point symbols in UTF-8 byte order.
    */
  def vocabFromAlphabet(alphabet: Seq[String],
      merges: Seq[(Int, String, String)]): Seq[(Int, String)] = {
    val ordered = alphabet ++ merges.sortBy(_._1).map(m => m._2 + m._3)
    val seen = scala.collection.mutable.Set.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    ordered.foreach { s =>
      if (!seen.contains(s)) { out += ((out.size, s)); seen += s }
    }
    out.toSeq
  }

  /** [[vocabFromAlphabet]] with BYTE FALLBACK reserved: ids 0..255 are
    * the byte tokens, the alphabet and merge symbols follow shifted by
    * 256. This is the SentencePiece/Llama vocabulary contract that
    * makes encode TOTAL — text whose characters exceed the training
    * corpus's alphabet (new scripts, emoji, mojibake) decomposes into
    * UTF-8 bytes instead of collapsing to UNK, so no input is
    * unrepresentable and decode is always lossless. Same growth
    * contract as [[vocab]]: training more merges only APPENDS ids.
    */
  def vocabWithBytesFromAlphabet(alphabet: Seq[String],
      merges: Seq[(Int, String, String)]): Seq[(Int, String)] =
    ByteTokens ++ vocabFromAlphabet(alphabet, merges).map {
      case (i, s) => (i + 256, s)
    }

  /** The 256 reserved byte tokens of a byte-fallback vocabulary —
    * ids 0..255, symbol strings `<0x00>`..`<0xFF>` (the SentencePiece
    * rendering; the angle-bracket form cannot collide with any
    * single-code-point alphabet symbol). Produced only by the encode
    * FALLBACK path — never by text lookup — so a document that
    * literally contains the string "<0x41>" still encodes through its
    * own characters.
    */
  val ByteTokens: Seq[(Int, String)] =
    (0 until 256).map(b => (b, f"<0x$b%02X>"))

  /** Doc → token-id sequences: the tokenizer's LAST MILE — what a
    * training run actually consumes. Encodes every document under the
    * learned merges and maps each subword symbol to its [[vocab]] id,
    * preserving token order.
    *
    * Same scale shape as [[subwordCounts]]: the encode (char split +
    * one [[graft.expressions.MergeList]] kernel + the symbol→id map
    * lookup) runs on the DISTINCT-word table, and documents join back
    * on the word — the corpus pays one ordered explode and one
    * equi-join, never a per-occurrence encode. The id map rides as ONE
    * [[graft.expressions.VocabIds]] hash table (vocabulary-sized — the
    * same tens-of-KB..MB a tokenizer file costs every worker in any
    * engine) with O(1) lookups; a `typedLit` map literal here was a
    * linear scan per symbol (Catalyst's GetMapValue on a literal map),
    * O(|vocab|) per lookup — measured 5× slower at a REAL 32k-merge
    * vocabulary and widening with vocab size
    * (`bench_evidence/r13_encode_scale_probe.txt`).
    *
    * Per-doc reassembly collects (word position, ids) structs and
    * sorts INSIDE the row, so output is deterministic under any
    * partitioning. Docs with no words survive with an empty sequence.
    * A symbol absent from the vocabulary (possible only when encoding
    * NEW text whose alphabet exceeds the training corpus's) maps to
    * id -1 — the caller's UNK policy hook, chosen over silent drops —
    * or, with `byteFallback = true` and a [[vocabWithBytesFromAlphabet]] layout,
    * expands to its UTF-8 bytes as the reserved ids 0..255: encode
    * becomes TOTAL and decode lossless on ANY input, the production
    * contract (no training run wants UNK mass). The byte rows are
    * excluded from the lookup table, so fallback ids are produced only
    * by genuinely out-of-alphabet characters, never by text that
    * happens to spell `<0x41>`.
    *
    * @return ONLY (idCol, n_ids, ids: array<int>) — join back on
    *         idCol for other columns; compose with
    *         [[Packing.packPlacement]] on `n_ids` to lay the id
    *         streams into context bins (pinned in `BpeSpec`).
    */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String)],
      vocabIds: Seq[(Int, String)],
      byteFallback: Boolean = false,
      distinctWords: Option[DataFrame] = None): DataFrame =
    encodeWordIds(docs, idCol, textCol, merges, vocabIds, byteFallback,
        distinctWords)
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(when(col("__ids").isNotNull,
          struct(col("__wpos"), col("__ids"))))),
        s => s.getField("__ids"))).as("ids"))
      .select(col(idCol), size(col("ids")).cast("long").as("n_ids"),
        col("ids"))

  /** WORD-granularity encode rows — [[encodeIds]] before its per-doc
    * reassembly aggregate: one row per (doc, word position) carrying
    * that word's id sub-sequence, `(idCol, __wpos, __ids)`. The OUTER
    * explode keeps a doc with no words as one null-word row
    * (`__wpos`/`__ids` NULL), so [[encodeIds]]' aggregate needs no
    * second corpus scan + join-back; a word absent from
    * `distinctWords` also yields NULL `__ids` (excluded downstream).
    *
    * Factored out (round 18) for consumers that never need the per-doc
    * arrays: [[graft.operators.Packing.binIdSequencesEncoded]] lays
    * the id stream into context bins directly from these rows, so the
    * token mass skips [[encodeIds]]' doc-keyed exchange + collect_list
    * reassembly entirely and crosses ONE shard exchange instead.
    */
  def encodeWordIds(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String)],
      vocabIds: Seq[(Int, String)],
      byteFallback: Boolean = false,
      distinctWords: Option[DataFrame] = None): DataFrame = {
    require(vocabIds.nonEmpty, "empty vocabulary")
    require(vocabIds.map(_._2).distinct.size == vocabIds.size,
      "duplicate symbol in vocabulary")
    val lookup =
      if (!byteFallback) vocabIds
      else {
        require(vocabIds.take(256) == ByteTokens,
          "byteFallback needs a vocabWithBytesFromAlphabet layout: ids 0..255 must " +
            "be the reserved byte tokens")
        vocabIds.drop(256)
      }
    val byteBase = if (byteFallback) 0 else -1
    // OUTER explode: a doc with no words survives as one null-word row,
    // so per-doc reassembly needs no second corpus scan + join-back —
    // null/unmatched rows are excluded inside the aggregate instead
    // (same semantics as the inner join + final left join they replace)
    val docWords = docs.select(col(idCol),
      posexplode_outer(filter(T.tokens(col(textCol)),
        w => length(w) > 0)).as(Seq("__wpos", "word")))
    // the word universe: a caller-provided distinct-word table (e.g.
    // [[TrainedBpe.words]] — MUST contain every word of `docs`, extra
    // rows are harmless) skips one corpus-token shuffle per encode
    val words = distinctWords.getOrElse(docWords.select("word")
        .where(col("word").isNotNull).distinct())
      .select(col("word")).where(length(col("word")) > 0)
    val wordIds = applySyms(words, merges)
      .select(col("word"),
        graft.expressions.VocabIds.ids(col("syms"), lookup, byteBase)
          .as("__ids"))
    docWords.join(wordIds, Seq("word"), "left")
      .select(col(idCol), col("__wpos"), col("__ids"))
  }

  /** DECODE: token ids back to the text they encode —
    * [[encodeIds]]' inverse, as a composable column over any
    * `array<int>` ids column (one O(1) hash lookup per id inside the
    * codegen'd [[graft.expressions.VocabDecode]] kernel; byte runs
    * from the fallback reassemble in byte space, so split multi-byte
    * code points decode losslessly). Word boundaries are not encoded
    * (no space token — the documented [[vocab]] simplification), so
    * decode returns the document's words CONCATENATED; the lossless
    * contract is `decode(encode(text)) = concat(tokens(text))`,
    * oracle-checked corpus-wide by `x_bpe_roundtrip`. A foreign id
    * (neither vocabulary nor byte range) fails loudly.
    */
  def decodeCol(ids: org.apache.spark.sql.Column,
      vocabIds: Seq[(Int, String)],
      byteFallback: Boolean = false): org.apache.spark.sql.Column = {
    require(vocabIds.nonEmpty, "empty vocabulary")
    if (!byteFallback)
      graft.expressions.VocabDecode.decode(ids, vocabIds)
    else {
      require(vocabIds.take(256) == ByteTokens,
        "byteFallback needs a vocabWithBytesFromAlphabet layout: ids 0..255 must " +
          "be the reserved byte tokens")
      graft.expressions.VocabDecode.decode(ids, vocabIds.drop(256),
        byteBase = 0)
    }
  }

  /** Per-document subword token counts under a learned merge list —
    * the "how many BPE tokens is my corpus" accounting every training
    * run needs, with the REAL learned merges instead of a heuristic.
    * Encode runs on the DISTINCT-word table (vocab-sized); documents
    * join back on the word — so the corpus pays one explode + one
    * equi-join, never a per-doc encode. Docs with no words survive
    * with zero counts.
    */
  def subwordCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String)],
      distinctWords: Option[DataFrame] = None): DataFrame = {
    // outer explode + in-aggregate null handling: word-less docs
    // survive the one groupBy with zero counts, so no second corpus
    // scan + join-back (see [[encodeIds]]); a caller-provided
    // distinct-word table (e.g. [[TrainedBpe.words]] — must cover every
    // word of `docs`) skips the corpus-token distinct shuffle
    val docWords = docs.select(col(idCol),
      explode_outer(filter(T.tokens(col(textCol)),
        w => length(w) > 0)).as("word"))
    val words = distinctWords.getOrElse(docWords.select("word")
        .where(col("word").isNotNull).distinct())
      .select(col("word")).where(length(col("word")) > 0)
    val vocab = applySyms(words, merges)
      .select(col("word"), size(col("syms")).as("__nsub"))
    docWords.join(vocab, Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__nsub")).as("n_words"),
        coalesce(sum(col("__nsub").cast("long")), lit(0L)).as("bpe_tokens"))
  }

  /** Publish the TOKENIZER ARTIFACT — the learned merge list and its
    * [[vocab]] — through the crash-safe versioned-marker store
    * ([[graft.streaming.StatsMaintenance.publishArtifact]]), as ONE
    * committed table so the two halves can never drift apart: an
    * encode under merges from one training run and ids from another
    * would silently renumber the corpus. Layout is one row per entry,
    * `kind` ∈ {merge, vocab}: merge rows carry (idx = rank, a, b),
    * vocab rows carry (idx = id, a = symbol, b = null). Crash
    * contract: a kill mid-refresh leaves the
    * previous tokenizer servable, retain=2 keeps it one publish
    * longer for in-flight encodes.
    */
  def saveTokenizerVersioned(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(Int, String, String)], vocabIds: Seq[(Int, String)],
      path: String, retain: Int = 2): Unit = {
    require(merges.nonEmpty, "empty merge list")
    require(vocabIds.nonEmpty, "empty vocabulary")
    import spark.implicits._
    val rows =
      merges.map { case (r, a, b) => ("merge", r, a, Option(b)) } ++
        vocabIds.map { case (i, s) => ("vocab", i, s, None: Option[String]) }
    graft.streaming.StatsMaintenance.publishArtifact(spark, path,
      rows.toDF("kind", "idx", "a", "b").coalesce(1), retain)
  }

  /** Load the newest committed tokenizer artifact. Fails loudly if
    * nothing has been committed or either half is not a dense
    * 0..n-1 index range (a torn or foreign table must never silently
    * renumber an encode).
    */
  def loadTokenizerVersioned(spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[(Int, String, String)], Seq[(Int, String)]) = {
    val table = graft.streaming.StatsMaintenance.readArtifact(spark, path)
      .getOrElse(throw new IllegalStateException(
        s"no committed tokenizer artifact at $path"))
      .select(col("kind"), col("idx"), col("a"), col("b")).collect()
    val merges = table.filter(_.getString(0) == "merge")
      .map(r => (r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(_._1).toSeq
    val vocabIds = table.filter(_.getString(0) == "vocab")
      .map(r => (r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
    require(merges.nonEmpty && vocabIds.nonEmpty,
      s"corrupt tokenizer at $path: ${merges.size} merges, " +
        s"${vocabIds.size} vocab entries")
    require(merges.map(_._1) == merges.indices,
      s"corrupt tokenizer at $path: merge ranks ${merges.map(_._1).take(10)}...")
    require(vocabIds.map(_._1) == vocabIds.indices,
      s"corrupt tokenizer at $path: vocab ids ${vocabIds.map(_._1).take(10)}...")
    require(merges.forall(_._3 != null),
      s"corrupt tokenizer at $path: merge row with null b")
    (merges, vocabIds)
  }
}
