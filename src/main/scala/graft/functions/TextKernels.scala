package graft.functions

/** Zero-allocation per-row text kernels used by the native text
  * expressions (QfScore's vocab table and distinct-token set;
  * RepetitionStats' word and 2-gram sets).
  *
  * The scoring pass was measured allocation-bound at 32 threads: one
  * String per word (StringBuilder.toString for the vocab lookup) plus one
  * substring + HashSet node per token made the pipeline scale at ~0.7
  * from 8 to 32 threads on one box (allocation = store traffic + GC).
  * These kernels query by (text, start, end) char ranges instead —
  * EXACT results (hash probe verified by char comparison), zero per-row
  * allocation in steady state. */
object TextKernels {

  @inline private def smear(h0: Int): Int = {
    val h = h0 * 0x9E3779B9
    h ^ (h >>> 16)
  }

  /** Read-only open-addressing word table keyed by lowercase ASCII word,
    * queried by char range with on-the-fly lowercasing. Immutable after
    * construction — safe to share across executor threads. */
  final class WordTable(entries: Map[String, (Double, Boolean)]) {
    private val capacity: Int = {
      var c = 8
      while (c < entries.size * 3) c <<= 1
      c
    }
    private val mask = capacity - 1
    private val keys = new Array[String](capacity)
    private val lp = new Array[Double](capacity)
    private val stop = new Array[Boolean](capacity)
    entries.foreach { case (k, (l, s)) =>
      var idx = smear(hashOf(k)) & mask
      while (keys(idx) != null) idx = (idx + 1) & mask
      keys(idx) = k; lp(idx) = l; stop(idx) = s
    }

    private def hashOf(k: String): Int = {
      var h = 0
      var i = 0
      while (i < k.length) { h = h * 31 + k.charAt(i); i += 1 }
      h
    }

    @inline private def lower(c0: Char): Char =
      if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0

    /** Slot of the word text[start,end) lowercased, or -1 if absent. */
    def find(text: String, start: Int, end: Int): Int = {
      var h = 0
      var i = start
      while (i < end) { h = h * 31 + lower(text.charAt(i)); i += 1 }
      var idx = smear(h) & mask
      while (true) {
        val k = keys(idx)
        if (k == null) return -1
        if (k.length == end - start) {
          var j = 0
          while (j < k.length && k.charAt(j) == lower(text.charAt(start + j))) j += 1
          if (j == k.length) return idx
        }
        idx = (idx + 1) & mask
      }
      -1 // unreachable: load factor < 1 guarantees a null slot
    }

    def logProb(idx: Int): Double = lp(idx)
    def isStop(idx: Int): Boolean = stop(idx)
  }

  /** Per-row EXACT distinct-token counter over (start,end) char ranges of
    * one text: hash probe + char-compare verification (collisions never
    * change the count). Reused via ThreadLocal + reset() — zero steady-
    * state allocation; arrays double on rows with unusually many tokens. */
  final class TokenSet {
    private var table = new Array[Int](1024) // token ordinal + 1; 0 = empty
    private var mask = table.length - 1
    private var starts = new Array[Int](256)
    private var ends = new Array[Int](256)
    private var hashes = new Array[Int](256)
    private var slots = new Array[Int](256)
    private var counts = new Array[Int](256)
    private var n = 0
    private var max = 0

    def reset(): Unit = {
      var i = 0
      while (i < n) { table(slots(i)) = 0; i += 1 }
      n = 0
      max = 0
    }

    def size: Int = n

    /** Occurrence count of the most frequent token since reset() (counts
      * are maintained in add(); stale slots are re-initialized on reuse,
      * so no extra reset cost). */
    def maxCount: Int = max

    @inline private def rangeEq(text: String, s0: Int, s1: Int, len: Int): Boolean = {
      var j = 0
      while (j < len && text.charAt(s0 + j) == text.charAt(s1 + j)) j += 1
      j == len
    }

    def add(text: String, s: Int, e: Int): Unit = {
      // the aux arrays (starts/ends/hashes/slots) are the tight bound —
      // table is 4× their length, so a table-only guard would overflow
      // starts(n) at n = starts.length (any text with > 256 distinct
      // tokens) long before the load factor fired
      if (n == starts.length || (n + 1) * 3 >= table.length) grow()
      var h = 0
      var i = s
      while (i < e) { h = h * 31 + text.charAt(i); i += 1 }
      h = smear(h)
      var idx = h & mask
      while (true) {
        val t = table(idx)
        if (t == 0) {
          table(idx) = n + 1
          starts(n) = s; ends(n) = e; hashes(n) = h; slots(n) = idx
          counts(n) = 1
          if (max < 1) max = 1
          n += 1
          return
        }
        val o = t - 1
        if (hashes(o) == h && ends(o) - starts(o) == e - s &&
          rangeEq(text, starts(o), s, e - s)) {
          counts(o) += 1
          if (counts(o) > max) max = counts(o)
          return
        }
        idx = (idx + 1) & mask
      }
    }

    private def grow(): Unit = {
      table = new Array[Int](table.length << 1)
      mask = table.length - 1
      starts = java.util.Arrays.copyOf(starts, starts.length << 1)
      ends = java.util.Arrays.copyOf(ends, ends.length << 1)
      hashes = java.util.Arrays.copyOf(hashes, hashes.length << 1)
      slots = java.util.Arrays.copyOf(slots, slots.length << 1)
      counts = java.util.Arrays.copyOf(counts, counts.length << 1)
      var o = 0
      while (o < n) {
        var idx = hashes(o) & mask
        while (table(idx) != 0) idx = (idx + 1) & mask
        table(idx) = o + 1
        slots(o) = idx
        o += 1
      }
    }
  }
}
