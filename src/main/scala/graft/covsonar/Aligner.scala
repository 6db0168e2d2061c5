package graft.covsonar

/** Pairwise global DNA alignment with affine gaps, equivalent in role to the
  * reference engine's EMBOSS Stretcher call (rki-mf1/covsonar
  * lib/sonardb.py:861-946: Myers-Miller global alignment, EDNAFULL scoring,
  * gapopen 16 / gapextend 4, followed by a left-align-gaps normalization).
  *
  * Implementation: banded Gotoh DP whose band is anchored on exact seeds.
  * Query genomes are near-identical to the 29,903 bp reference, so the
  * optimal path follows the diagonals of the query's 16-mers that occur once
  * in the reference. Their co-linear chain (longest increasing run of
  * reference positions) gives the diagonals the path must visit; the band is
  * their range, plus the start and end diagonals, ± a small slack. A path
  * that touches the band's edge may have been clipped, so the band widens ×4
  * until it does not, with a wide fixed band as the last resort. Seeding
  * keeps the band ~30 cells wide for the common case (O(n·W) time and
  * memory, about a megabyte of traceback per alignment), and it keeps paths
  * whose insertion and deletion cancel in length inside the band, where an
  * unseeded band around the main diagonal would silently cut them off. An
  * excursion through a stretch that has no seed at all (a change at least
  * every 16 bases) can still leave the band without touching its edge.
  *
  * Scoring follows NUC.4.4/EDNAFULL (match 5, mismatch −4, reduced penalties
  * against ambiguity codes) as shipped by the reference at lib/EDNAFULL, with
  * gap(k) = gapOpen + k·gapExtend.
  */
object Aligner {

  // EDNAFULL / NUC.4.4 scoring matrix over the 15 IUPAC nucleotide codes.
  private val alphabet = "ATGCSWRYKMBVHDN"
  private val code: Array[Int] = {
    val a = Array.fill(128)(-1)
    alphabet.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }
  private val matrix: Array[Array[Int]] = Array(
    Array(5, -4, -4, -4, -4, 1, 1, -4, -4, 1, -4, -1, -1, -1, -2),
    Array(-4, 5, -4, -4, -4, 1, -4, 1, 1, -4, -1, -4, -1, -1, -2),
    Array(-4, -4, 5, -4, 1, -4, 1, -4, 1, -4, -1, -1, -4, -1, -2),
    Array(-4, -4, -4, 5, 1, -4, -4, 1, -4, 1, -1, -1, -1, -4, -2),
    Array(-4, -4, 1, 1, -1, -4, -2, -2, -2, -2, -1, -1, -3, -3, -1),
    Array(1, 1, -4, -4, -4, -1, -2, -2, -2, -2, -3, -3, -1, -1, -1),
    Array(1, -4, 1, -4, -2, -2, -1, -4, -2, -2, -3, -1, -3, -1, -1),
    Array(-4, 1, -4, 1, -2, -2, -4, -1, -2, -2, -1, -3, -1, -3, -1),
    Array(-4, 1, 1, -4, -2, -2, -2, -2, -1, -4, -1, -3, -3, -1, -1),
    Array(1, -4, -4, 1, -2, -2, -2, -2, -4, -1, -3, -1, -1, -3, -1),
    Array(-4, -1, -1, -1, -1, -3, -3, -1, -1, -3, -1, -2, -2, -2, -1),
    Array(-1, -4, -1, -1, -1, -3, -1, -3, -3, -1, -2, -1, -2, -2, -1),
    Array(-1, -1, -4, -1, -3, -1, -3, -1, -3, -1, -2, -2, -1, -2, -1),
    Array(-1, -1, -1, -4, -3, -1, -1, -3, -1, -3, -2, -2, -2, -1, -1),
    Array(-2, -2, -2, -2, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1))

  @inline private def score(a: Char, b: Char): Int = {
    val ia = if (a < 128) code(a.toInt) else -1
    val ib = if (b < 128) code(b.toInt) else -1
    // unknown characters score like N
    matrix(if (ia < 0) 14 else ia)(if (ib < 0) 14 else ib)
  }

  /** Flattened matrix + per-sequence code arrays: the DP inner loop runs
    * ~4M cells per 30 kb alignment, so one bounds-checked flat lookup per
    * cell instead of charAt + 2D deref is a measurable share of ingest.
    */
  private val flatMatrix: Array[Int] = {
    val f = new Array[Int](15 * 15)
    for (i <- 0 until 15; j <- 0 until 15) f(i * 15 + j) = matrix(i)(j)
    f
  }

  private def codesOf(s: String): Array[Int] = {
    val out = new Array[Int](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val ic = if (c < 128) code(c.toInt) else -1
      out(i) = if (ic < 0) 14 else ic
      i += 1
    }
    out
  }

  private val NegInf = Int.MinValue / 4

  /** Seed length: a 16-mer packs into one Int at 2 bits per base. */
  private val K = 16
  /** Band slack around the seed chain's diagonal range. */
  private val SeedSlack = 16
  /** Band slack when the query has no seed chain (no exact 16-mer that is
    * unique in the target): the band is centred on the main diagonal only.
    */
  private val UnseededSlack = 64

  /** Traceback buffers up to this size are cached per thread; larger ones
    * (a widened pass needs (n+1)·(2·2048+1) bytes, ~122 MB) are allocated
    * for the call and dropped, so a rare hard genome does not pin them to a
    * task thread for the life of the JVM. 8 MiB covers the seeded first pass
    * and its first widening at covsonar sizes.
    */
  private[covsonar] val TracebackCacheCap = 8 << 20

  /** Reusable per-thread traceback buffer: allocated fresh per alignment it
    * is a G1 "humongous" allocation, and at one alignment per task the churn
    * is measurable. No clearing needed: the traceback only reads cells the
    * current run wrote (every in-band cell of rows 1..n is assigned, and
    * row-0 bytes are never consumed by the traceback's edge transitions).
    */
  private val tbCache = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](0)
  }

  private[covsonar] def cachedTracebackBytes: Int = tbCache.get().length

  /** The target is the same 30 kb reference for every alignment in a task:
    * cache its code array per thread instead of re-deriving 30k lookups.
    */
  private val tCodesCache = new ThreadLocal[(String, Array[Int])] {
    override def initialValue(): (String, Array[Int]) = ("", Array.empty)
  }

  /** Globally align `query` against `target` (the reference). Returns
    * (alignedQuery, alignedTarget) with '-' gap characters, gaps left-aligned.
    */
  def align(query: String, target: String, gapOpen: Int = 16, gapExtend: Int = 4): (String, String) = {
    val d = query.length - target.length
    val maxW = maxWidth(query, target)
    val chain = seedChainDiagonals(query, target)
    val (lo0, hi0, w0) =
      if (chain == null) (math.min(0, d), math.max(0, d), UnseededSlack)
      else (math.min(math.min(0, d), chain(0)), math.max(math.max(0, d), chain(1)), SeedSlack)
    var w = w0
    var res = alignBanded(query, target, gapOpen, gapExtend, lo0 - w, hi0 + w)
    while (res == null && w < maxW) {
      w = math.min(w * 4, maxW)
      res = alignBanded(query, target, gapOpen, gapExtend, lo0 - w, hi0 + w)
    }
    if (res == null) alignWide(query, target, gapOpen, gapExtend) // pathological input
    else res
  }

  private def maxWidth(query: String, target: String): Int =
    math.max(2048, math.abs(query.length - target.length) + 64)

  /** The last resort of [[align]]: one pass over a fixed wide band around the
    * start and end diagonals, accepting a path that touches its edge. Also
    * the reference the seeded band is checked against.
    */
  private[covsonar] def alignWide(query: String, target: String,
      gapOpen: Int = 16, gapExtend: Int = 4): (String, String) = {
    val d = query.length - target.length
    val w = maxWidth(query, target)
    alignBanded(query, target, gapOpen, gapExtend,
      math.min(0, d) - w, math.max(0, d) + w, acceptEdge = true)
  }

  /** Affine score of an alignment under the scoring [[align]] optimizes. */
  private[covsonar] def alignmentScore(alignedQuery: String, alignedTarget: String,
      gapOpen: Int = 16, gapExtend: Int = 4): Int = {
    var total = 0
    var k = 0
    while (k < alignedQuery.length) {
      val q = alignedQuery.charAt(k); val t = alignedTarget.charAt(k)
      if (q == '-') {
        if (k == 0 || alignedQuery.charAt(k - 1) != '-') total -= gapOpen
        total -= gapExtend
      } else if (t == '-') {
        if (k == 0 || alignedTarget.charAt(k - 1) != '-') total -= gapOpen
        total -= gapExtend
      } else total += score(q, t)
      k += 1
    }
    total
  }

  /** Unique-k-mer index of one target: open addressing over packed 16-mers,
    * mapping each to its 0-based start if it occurs exactly once.
    */
  private final class SeedIndex(val target: String) {
    private val Empty = -1
    private val Repeated = -2
    private val bits = 32 - Integer.numberOfLeadingZeros(math.max(16, target.length) * 2 - 1)
    private val mask = (1 << bits) - 1
    private val keys = new Array[Int](1 << bits)
    private val starts = Array.fill(1 << bits)(Empty)

    @inline private def slot(kmer: Int): Int = (kmer * 0x9E3779B9) >>> (32 - bits)

    forEachKmer(target) { (start, kmer) =>
      var h = slot(kmer)
      while (starts(h) != Empty && keys(h) != kmer) h = (h + 1) & mask
      if (starts(h) == Empty) { keys(h) = kmer; starts(h) = start }
      else starts(h) = Repeated
    }

    /** The target start of `kmer`, or a negative value if it is absent or repeated. */
    def lookup(kmer: Int): Int = {
      var h = slot(kmer)
      while (starts(h) != Empty && keys(h) != kmer) h = (h + 1) & mask
      starts(h)
    }
  }

  /** Calls `f(start, kmer)` for every 16-mer of `s` made only of A/C/G/T. */
  @inline private def forEachKmer(s: String)(f: (Int, Int) => Unit): Unit = {
    var kmer = 0
    var run = 0
    var j = 0
    while (j < s.length) {
      val b = s.charAt(j) match {
        case 'A' => 0; case 'C' => 1; case 'G' => 2; case 'T' => 3; case _ => -1
      }
      if (b < 0) run = 0
      else {
        kmer = (kmer << 2) | b
        run += 1
        if (run >= K) f(j - K + 1, kmer)
      }
      j += 1
    }
  }

  /** The index is immutable, so one instance serves every thread; a race on
    * first use only builds it twice.
    */
  @volatile private var seedIndex: SeedIndex = null

  private def seedIndexOf(target: String): SeedIndex = {
    val cached = seedIndex
    if (cached != null && (cached.target eq target)) cached
    else {
      val built = new SeedIndex(target)
      seedIndex = built
      built
    }
  }

  /** [min, max] of the diagonals (query start − target start) along the
    * longest co-linear chain of the query's 16-mers that are unique in the
    * target, or null if there is none.
    */
  private def seedChainDiagonals(query: String, target: String): Array[Int] = {
    val index = seedIndexOf(target)
    val qs = new Array[Int](math.max(0, query.length - K + 1))
    val ts = new Array[Int](qs.length)
    var hits = 0
    forEachKmer(query) { (start, kmer) =>
      val t = index.lookup(kmer)
      if (t >= 0) { qs(hits) = start; ts(hits) = t; hits += 1 }
    }
    if (hits == 0) return null
    // longest strictly increasing subsequence of ts (hits are in query
    // order): tails(l) = the hit ending the best chain of length l + 1
    val tails = new Array[Int](hits)
    val prev = new Array[Int](hits)
    var len = 0
    var h = 0
    while (h < hits) {
      var a = 0; var b = len
      while (a < b) {
        val mid = (a + b) >>> 1
        if (ts(tails(mid)) < ts(h)) a = mid + 1 else b = mid
      }
      prev(h) = if (a > 0) tails(a - 1) else -1
      tails(a) = h
      if (a == len) len += 1
      h += 1
    }
    var lo = Int.MaxValue; var hi = Int.MinValue
    var c = tails(len - 1)
    while (c >= 0) {
      val diag = qs(c) - ts(c)
      if (diag < lo) lo = diag
      if (diag > hi) hi = diag
      c = prev(c)
    }
    Array(lo, hi)
  }

  /** One banded Gotoh pass over the band j - i ∈ [lo, hi], where i indexes
    * target and j indexes query, followed by left-aligning the gaps. Returns
    * null if the optimal traceback touches the band boundary (meaning the
    * band may have clipped the true optimum), unless `acceptEdge`.
    */
  private def alignBanded(
      query: String, target: String, gapOpen: Int, gapExtend: Int, lo: Int, hi: Int,
      acceptEdge: Boolean = false): (String, String) = {
    val n = target.length
    val m = query.length
    val bw = hi - lo + 1
    val openCost = gapOpen + gapExtend
    val tCodes = {
      val cached = tCodesCache.get()
      if (cached._1 eq target) cached._2
      else {
        val codes = codesOf(target)
        tCodesCache.set((target, codes))
        codes
      }
    }
    val qCodes = codesOf(query)

    // DP rows indexed by band offset b = j - i - lo ∈ [0, bw)
    var prevM = new Array[Int](bw); var prevX = new Array[Int](bw); var prevY = new Array[Int](bw)
    var curM = new Array[Int](bw); var curX = new Array[Int](bw); var curY = new Array[Int](bw)
    // packed traceback: per cell, 2 bits each for M/X/Y predecessor choice
    // M: 0=fromM 1=fromX 2=fromY ; X: 0=openFromM 1=extend 2=openFromY ; Y likewise
    val tb = {
      val need = (n + 1).toLong * bw
      require(need <= Int.MaxValue, s"band of $bw cells over $n rows exceeds one traceback array")
      val cached = tbCache.get()
      if (cached.length >= need) cached
      else {
        val fresh = new Array[Byte](need.toInt)
        if (need <= TracebackCacheCap) tbCache.set(fresh)
        fresh
      }
    }
    // row i=0: only Y (gaps in target) possible along j
    java.util.Arrays.fill(prevM, NegInf)
    java.util.Arrays.fill(prevX, NegInf)
    java.util.Arrays.fill(prevY, NegInf)
    var b0 = -lo // offset of j=0 in row 0
    if (b0 >= 0 && b0 < bw) prevM(b0) = 0
    var j = 1
    while (j <= m && j - lo < bw) {
      val b = j - lo
      if (b >= 0) {
        prevY(b) = -(gapOpen + j * gapExtend)
        tb(b) = (1 << 4).toByte // Y extends Y
      }
      j += 1
    }

    var i = 1
    while (i <= n) {
      val jMin = math.max(0, i + lo)
      val jMax = math.min(m, i + hi)
      val rowBase = i * bw
      val tCode = tCodes(i - 1) * 15
      // cells of this row outside [jMin, jMax] stay unreachable
      if (jMin - i - lo > 0) {
        java.util.Arrays.fill(curM, 0, jMin - i - lo, NegInf)
        java.util.Arrays.fill(curX, 0, jMin - i - lo, NegInf)
        java.util.Arrays.fill(curY, 0, jMin - i - lo, NegInf)
      }
      if (jMax - i - lo < bw - 1) {
        java.util.Arrays.fill(curM, jMax - i - lo + 1, bw, NegInf)
        java.util.Arrays.fill(curX, jMax - i - lo + 1, bw, NegInf)
        java.util.Arrays.fill(curY, jMax - i - lo + 1, bw, NegInf)
      }
      // this row's previous cell, Y's predecessor
      var mL = NegInf; var xL = NegInf; var yL = NegInf
      var jj = jMin
      while (jj <= jMax) {
        val b = jj - i - lo
        var tbByte = 0
        // X: target char vs gap — predecessor at (i-1, jj) = prev row, offset b+1
        var xv = NegInf
        if (b + 1 < bw) {
          val mo = prevM(b + 1) - openCost
          val xe = prevX(b + 1) - gapExtend
          val yo = prevY(b + 1) - openCost
          val c1 = if (xe > mo) 1 else 0
          val m1 = math.max(mo, xe)
          var c = if (yo > m1) 2 else c1
          var best = math.max(m1, yo)
          if (jj == 0) { // left edge: force continuation semantics
            best = -(gapOpen + i * gapExtend)
            c = if (i == 1) 0 else 1
          }
          xv = best
          tbByte = c << 2
        }
        // Y: query char vs gap — predecessor at (i, jj-1) = cur row, offset b-1
        var yv = NegInf
        if (jj > 0 && b > 0) {
          val mo = mL - openCost
          val ye = yL - gapExtend
          val xo = xL - openCost
          val c1 = if (ye > mo) 1 else 0
          val m1 = math.max(mo, ye)
          val c = if (xo > m1) 2 else c1
          val best = math.max(m1, xo)
          yv = best
          tbByte |= (c << 4)
        }
        // M: diagonal — predecessor at (i-1, jj-1) = prev row, same offset b
        var mv = NegInf
        if (jj > 0) {
          val pm = prevM(b); val px = prevX(b); val py = prevY(b)
          val c1 = if (px > pm) 1 else 0
          val m1 = math.max(pm, px)
          val c = if (py > m1) 2 else c1
          val best = math.max(m1, py)
          if (best > NegInf) mv = best + flatMatrix(tCode + qCodes(jj - 1))
          tbByte |= c
        }
        curM(b) = mv; curX(b) = xv; curY(b) = yv
        mL = mv; xL = xv; yL = yv
        tb(rowBase + b) = tbByte.toByte
        jj += 1
      }
      val tm = prevM; prevM = curM; curM = tm
      val tx = prevX; prevX = curX; curX = tx
      val ty = prevY; prevY = curY; curY = ty
      i += 1
    }

    // terminal cell (n, m)
    val bEnd = m - n - lo
    require(bEnd >= 0 && bEnd < bw, "band does not contain terminal cell")
    var state = 0 // 0=M 1=X 2=Y
    var bestScore = prevM(bEnd)
    if (prevX(bEnd) > bestScore) { bestScore = prevX(bEnd); state = 1 }
    if (prevY(bEnd) > bestScore) { bestScore = prevY(bEnd); state = 2 }

    // traceback, filling both aligned rows from the end
    val cap = n + m
    val qa = new Array[Char](cap)
    val ta = new Array[Char](cap)
    var p = cap
    var ci = n; var cj = m
    var touched = false
    while (ci > 0 || cj > 0) {
      val b = cj - ci - lo
      if ((b == 0 || b == bw - 1) && ci > 0 && cj > 0) touched = true
      val byteVal = tb(ci * bw + b)
      state match {
        case 0 =>
          if (ci == 0) { state = 2 } // top row: only Y possible
          else if (cj == 0) { state = 1 }
          else {
            p -= 1; qa(p) = query.charAt(cj - 1); ta(p) = target.charAt(ci - 1)
            state = byteVal & 3
            ci -= 1; cj -= 1
          }
        case 1 =>
          p -= 1; qa(p) = '-'; ta(p) = target.charAt(ci - 1)
          state = if (cj == 0) (if (ci == 1) 0 else 1) else ((byteVal >> 2) & 3) match {
            case 0 => 0; case 1 => 1; case 2 => 2
          }
          ci -= 1
        case 2 =>
          p -= 1; qa(p) = query.charAt(cj - 1); ta(p) = '-'
          state = if (ci == 0) (if (cj == 1) 0 else 2) else ((byteVal >> 4) & 3) match {
            case 0 => 0; case 1 => 2; case 2 => 1
          }
          cj -= 1
      }
    }
    if (touched && !acceptEdge) null
    else {
      leftAlignGaps(qa, ta, p)
      (new String(qa, p, cap - p), new String(ta, p, cap - p))
    }
  }

  /** Shift every gap run as far left as the flanking context allows, on both
    * aligned rows `query(from until length)` and `target(from until length)`,
    * in place — reference semantics at lib/sonardb.py:912-946
    * (left_align_gaps): a gap block moves one step left while the character
    * immediately before it equals the aligned character at its right end.
    */
  private def leftAlignGaps(query: Array[Char], target: Array[Char], from: Int): Unit = {
    val last = query.length - 1

    def shift(a: Array[Char], other: Array[Char]): Unit = {
      var i = from
      while (i < a.length) {
        if (a(i) == '-') {
          var e = i
          while (e + 1 < a.length && a(e + 1) == '-') e += 1
          // gap run [i, e]; s = char before run
          var s = i - 1
          var ge = e
          while (s >= from && ge < last && a(s) == other(ge)) {
            a(ge) = a(s); a(s) = '-'
            s -= 1; ge -= 1
          }
          i = e + 1
        } else i += 1
      }
    }
    shift(query, target)
    shift(target, query)
  }
}
