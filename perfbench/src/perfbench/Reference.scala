package perfbench

/** The benchmark's own answer to the session kernel, computed from the
  * generated events without Spark: gaps-and-islands per key. Events of
  * one key sorted by time form one session while each event starts less
  * than `gap` after the previous one; a session ends at its last event +
  * gap (Spark `session_window` bounds). Sessions whose weighted denied
  * count is 0 are dropped, like `Sessionize.deniedCounts`.
  */
object Reference {

  final case class Session(key: Int, startMs: Long, endMs: Long, denies: Long)

  final case class Result(sessions: Long, kept: Array[Session])

  def sessions(ev: Gen.Events, gapMs: Long): Result = {
    val n = ev.size
    // bucket by key, then sort each bucket by time (index in the low bits)
    val maxKey = if (n == 0) 0 else ev.key.max
    val start = new Array[Int](maxKey + 2)
    ev.key.foreach(k => start(k + 1) += 1)
    for (k <- 1 until start.length) start(k) += start(k - 1)
    val fill = start.clone()
    val minTs = if (n == 0) 0L else ev.tsMs.min
    val packed = new Array[Long](n)
    require(n < (1 << 24), "too many events for the packed sort")
    var i = 0
    while (i < n) {
      val k = ev.key(i)
      packed(fill(k)) = ((ev.tsMs(i) - minTs) << 24) | i
      fill(k) += 1
      i += 1
    }
    val out = Array.newBuilder[Session]
    var total = 0L
    for (k <- 0 to maxKey) {
      java.util.Arrays.sort(packed, start(k), start(k + 1))
      var j = start(k)
      var sStart, last, denies = 0L
      while (j < start(k + 1)) {
        val e = (packed(j) & 0xffffffL).toInt
        val t = ev.tsMs(e)
        if (j == start(k) || t >= last + gapMs) {
          if (j > start(k) && denies != 0) out += Session(k, sStart, last + gapMs, denies)
          total += 1
          sStart = t
          denies = 0L
        }
        last = t
        if (ev.denied(e)) denies += ev.weight(e)
        j += 1
      }
      if (start(k + 1) > start(k) && denies != 0) out += Session(k, sStart, last + gapMs, denies)
    }
    Result(total, out.result())
  }
}
