package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Runtime kernels behind the custom Catalyst expressions. Each is a
  * static method (Scala object ⇒ Java static forwarders) so generated
  * code can call it directly from within whole-stage codegen.
  *
  * Numeric discipline: every kernel reproduces, operation for operation,
  * the sequential-fold semantics of the column-expression formulation it
  * replaces (`aggregate`/`zip_with` left folds), so swapping them in is
  * bitwise result-preserving and oracle-safe.
  */
object GraftMath {

  /** ln(k) for k = 1..[[LnTabSize]] from StrictMath.log — the shared
    * integer-ln table, ONE process-global constant. Kernels and the
    * [[LnInt]] expression reference it statically: embedding it as a
    * 16384-element plan Literal (the original `lit(LnTable.toArray)`
    * formulation) made every canonicalization/equality pass over a
    * plan carrying it O(table) on the driver and inflated task
    * binaries — the q_doremi_iter2 round-boundary comment records
    * 13-27 s burned exactly this way before its file round-trip
    * workaround.
    */
  val LnTabSize = 16384
  val LnTab: Array[Double] =
    Array.tabulate(LnTabSize)(i => StrictMath.log((i + 1).toDouble))

  /** Table ln of a POSITIVE integer; StrictMath.log beyond the table —
    * bit-identical to Spark's `LOG` builtin there (same StrictMath
    * call), which is what the former declarative fallback compiled to.
    */
  def lnIntPos(k: Long): Double =
    if (k <= LnTabSize) LnTab((k - 1).toInt) else StrictMath.log(k.toDouble)

  /** Dot product of two float arrays in double precision — the codegen
    * twin of `aggregate(zip_with(a, b, _*_), 0.0, _+_)`: same
    * left-to-right accumulation order, hence bitwise-identical sums.
    */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Rolling polynomial hash h = (h·mult + codePoint) mod `mod` over the
    * string's Unicode code points — the codegen twin of the
    * `aggregate(split(s, ""), 0L, (h, ch) => (h·mult + ascii(ch)) % mod)`
    * fold. mult and mod are sized so h·mult + 0x10FFFF never overflows a
    * signed 64-bit long.
    */
  def polyHash(s: UTF8String, mult: Long, mod: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * mult + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }

  /** Character-distribution Shannon entropy in one pass — the codegen
    * twin of `TextAnalysis.charEntropyFold`: counts per distinct code
    * point, then folds k·ln k in ASCENDING code-point order (identical
    * to the fold's `sort_array` order for BMP text), with every ln read
    * from the shared `lnTab` (1-based; StrictMath.log beyond it, the
    * same fallback the declarative path uses). H = ln n − Σ/n; empty
    * string → 0. One sorted int array per row instead of the fold's
    * O(distinct × len) repeated `filter` scans.
    */
  def charEntropy(s: UTF8String, lnTab: Array[Double]): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val cps = str.codePoints().toArray
    java.util.Arrays.sort(cps)
    val n = cps.length
    def ln(k: Int): Double =
      if (k >= 1 && k <= lnTab.length) lnTab(k - 1)
      else StrictMath.log(k.toDouble)
    var sum = 0.0
    var i = 0
    while (i < n) {
      var j = i
      while (j < n && cps(j) == cps(i)) j += 1
      val k = j - i
      sum += k.toDouble * ln(k)
      i = j
    }
    ln(n) - sum / n.toDouble
  }

  /** All token-n-gram shingle hashes of a document in one pass:
    * whitespace tokens (limit -1, like Spark's `split`), each window of
    * n tokens hashed with [[polyHash]] semantics over the
    * space-rejoined shingle text. Emits one hash per window position
    * (callers `array_distinct` as needed); empty result when the doc
    * has fewer than n tokens.
    *
    * Replaces split → sequence → slice → concat_ws → per-shingle hash
    * (five interpreted higher-order passes with per-shingle string
    * allocation) with a single codegen-resident loop.
    */
  def ngramHashes(s: UTF8String, n: Int, mult: Long, mod: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = s.toString.split("\\s+", -1)
    val m = toks.length - n + 1
    if (m <= 0) {
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    }
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var k = 0
      while (k < n) {
        if (k > 0) h = (h * mult + ' '.toInt) % mod
        val t = toks(i + k)
        var ci = 0
        while (ci < t.length) {
          val cp = t.codePointAt(ci)
          h = (h * mult + cp) % mod
          ci += Character.charCount(cp)
        }
        k += 1
      }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** DISTINCT token n-grams of a document as space-joined strings, one
    * pass — the codegen twin of
    * `array_distinct(transform(sequence(...), i => array_join(slice(toks, i, n), " ")))`
    * (three interpreted higher-order passes re-splitting the text).
    * First-occurrence order, matching `array_distinct`. Empty when the
    * doc has fewer than n tokens.
    */
  def distinctNgrams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = s.toString.split("\\s+", -1)
    val m = toks.length - n + 1
    if (m <= 0) {
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    }
    val seen = new java.util.LinkedHashSet[String](m * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** MinHash signature of a pre-hashed shingle set in one pass: k
    * universal-hash permutations h_j(x) = (x·a_j + b_j) mod p, minimum
    * per j. Null for an empty input (no shingles ⇒ no signature), so
    * callers can drop sub-n-token docs exactly like the groupBy
    * formulation (which simply has no rows for them).
    */
  def minhashSig(
      hashes: org.apache.spark.sql.catalyst.util.ArrayData,
      a: Array[Long],
      b: Array[Long],
      p: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return null
    val k = a.length
    val mins = new Array[Any](k)
    var j = 0
    while (j < k) {
      var best = Long.MaxValue
      var i = 0
      while (i < n) {
        val x = hashes.getLong(i) % p
        val v = (x * a(j) + b(j)) % p
        if (v < best) best = v
        i += 1
      }
      mins(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Seed of Spark's `xxhash64(...)` expression — token hashes here are
    * bitwise those of the declarative `xxhash64(tok)` twin.
    */
  val XxSeed = 42L

  /** Marker-token language ID in one pass: count per-language marker
    * hits over whitespace tokens, return the arg-max language, ties to
    * the earliest (alphabetically first) language — bitwise the
    * semantics of the declarative strictly-greater fold it replaces,
    * whose expression tree duplicated the token split ~40× per row.
    */
  def langId(
      s: UTF8String,
      langs: Array[String],
      markers: Array[Array[String]]): UTF8String = {
    val toks = s.toString.split("\\s+", -1)
    val counts = new Array[Int](langs.length)
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      var l = 0
      while (l < markers.length) {
        val ms = markers(l)
        var m = 0
        while (m < ms.length) {
          if (ms(m) == tok) counts(l) += 1
          m += 1
        }
        l += 1
      }
      t += 1
    }
    var best = 0
    var l = 1
    while (l < counts.length) {
      if (counts(l) > counts(best)) best = l
      l += 1
    }
    UTF8String.fromString(langs(best))
  }

  /** Default seed for [[srpSignature]] hyperplanes. */
  val SrpSeed = 0x5DEECE66DL

  /** Random-hyperplane (signed random projection) signature: bit j is
    * the sign of the dot product with pseudo-random hyperplane j, whose
    * ±1 components come from a per-plane xorshift64 stream — deterministic
    * given (seed, planes), no hyperplane materialization, O(planes·dim)
    * per row with no allocation. P[bit differs] = angle/π (Charikar
    * SimHash for cosine), so near-identical vectors agree on almost all
    * bits — the candidate generator for LSH-bucketed near-dup search.
    */
  def srpSignature(vec: ArrayData, planes: Int, seed: Long): Long = {
    val n = vec.numElements()
    var out = 0L
    var j = 0
    while (j < planes) {
      var state = seed ^ (j.toLong * 0x9E3779B97F4A7C15L)
      if (state == 0L) state = 0x2545F4914F6CDD1DL
      var s = 0.0
      var i = 0
      while (i < n) {
        state ^= (state << 13)
        state ^= (state >>> 7)
        state ^= (state << 17)
        val v = vec.getFloat(i).toDouble
        s += (if ((state & 1L) == 0L) v else -v)
        i += 1
      }
      if (s > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** One-pass 64-bit SimHash over whitespace tokens: token hash is
    * XXH64 (full 64-bit width — every simhash bit carries signal, which
    * the 16-bit-block candidate scheme in `Dedup.simhashPairs` relies
    * on); bit j of the result is set when the count of tokens with bit j
    * set exceeds the count without (±1 votes). Single map-side pass —
    * replaces explode + 64 conditional aggregates + shuffle.
    *
    * Token split matches Spark's `split(text, "\\s+")` (limit -1 —
    * leading whitespace yields an initial empty token, which still
    * votes on every bit, exactly like the exploded formulation).
    */
  def simhash64(s: UTF8String, seed: Long): Long = {
    val toks = s.toString.split("\\s+", -1)
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val th = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(UTF8String.fromString(toks(t)), seed)
      var j = 0
      while (j < 64) {
        if (((th >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Inflate gzip members to UTF-8 text; null on any malformation
    * (bad magic, truncated deflate stream, CRC32 or ISIZE mismatch,
    * bytes after the last member — [[graft.operators.CompressedMeta.gunzipAll]]'s
    * all-or-null contract). Bounded: refuses payloads that inflate past
    * `MaxGunzipBytes` (decompression-bomb guard) by returning null
    * rather than OOMing an executor.
    */
  val MaxGunzipBytes: Int = 1 << 26 // 64 MiB of text per document

  def gunzipUtf8(bytes: Array[Byte]): UTF8String = {
    val arr = graft.operators.CompressedMeta.gunzipAll(bytes, MaxGunzipBytes, MaxGunzipBytes.toLong)
    if (arr == null) return null
    // the degrade contract is "NULL on any malformation" — that
    // includes members whose content is not valid UTF-8 (a gzipped
    // binary payload inflates fine); REPORT-mode decode rejects it
    // instead of letting mangled bytes flow into length/sha2/nfc
    try {
      java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .decode(java.nio.ByteBuffer.wrap(arr)): Unit
      UTF8String.fromBytes(arr)
    } catch { case _: java.nio.charset.CharacterCodingException => null }
  }

  /** Unicode NFC normalization (UAX #15 via the JDK) — the canonical
    * text-canonicalization step before hashing/dedup: visually
    * identical strings with different codepoint sequences (decomposed
    * accents, compatibility singletons like U+212B) hash differently
    * unless normalized first. Engine-exact: DuckDB's `nfc_normalize`
    * implements the same standard algorithm, verified to agree.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: NFC-checking is much cheaper than normalizing
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** RFC 3986 §6 URL normalization for http(s) URLs — the canonical
    * form URL-level dedup and frontier bookkeeping key on: lowercase
    * scheme and host, fragment stripped, default port removed,
    * percent-encodings of unreserved characters decoded and remaining
    * escapes uppercased (§6.2.2), dot-segments resolved (§5.2.4), and
    * the empty path normalized to "/". Anything outside the contract —
    * no scheme, non-http(s), empty or bracketed (IPv6) host, a
    * non-numeric port — returns null, the codec family's degrade
    * discipline (crawl URL fields are untrusted input).
    */
  def canonicalizeUrl(s: UTF8String): UTF8String = {
    val str = s.toString
    val cIdx = str.indexOf("://")
    if (cIdx <= 0) return null
    val scheme = str.substring(0, cIdx).toLowerCase(java.util.Locale.ROOT)
    if (scheme != "http" && scheme != "https") return null
    val rest = str.substring(cIdx + 3)
    var aEnd = 0
    while (aEnd < rest.length && rest.charAt(aEnd) != '/' &&
      rest.charAt(aEnd) != '?' && rest.charAt(aEnd) != '#') aEnd += 1
    val authority = rest.substring(0, aEnd)
    if (authority.isEmpty) return null
    val atIdx = authority.lastIndexOf('@')
    val userinfo = if (atIdx >= 0) authority.substring(0, atIdx + 1) else ""
    val hostport = authority.substring(atIdx + 1)
    if (hostport.contains('[') || hostport.contains(']')) return null // IPv6 out of contract
    val colonIdx = hostport.lastIndexOf(':')
    val host = (if (colonIdx >= 0) hostport.substring(0, colonIdx) else hostport)
      .toLowerCase(java.util.Locale.ROOT)
    if (host.isEmpty) return null
    val port = if (colonIdx >= 0) hostport.substring(colonIdx + 1) else ""
    // ASCII digits only (isDigit admits Unicode digit classes), bounded
    // before parsing (a 20-digit port must degrade, not throw), valid
    // TCP range, and leading zeros normalized so ':0081' == ':81'
    if (port.nonEmpty && !port.forall(c => c >= '0' && c <= '9')) return null
    val portVal =
      if (port.isEmpty) -1
      else if (port.length > 5) return null
      else { val v = port.toInt; if (v > 65535) return null else v }
    val keepPort = portVal >= 0 &&
      !(scheme == "http" && portVal == 80) &&
      !(scheme == "https" && portVal == 443)
    val tail = rest.substring(aEnd)
    val hashIdx = tail.indexOf('#')
    val noFrag = if (hashIdx >= 0) tail.substring(0, hashIdx) else tail
    val qIdx = noFrag.indexOf('?')
    val rawPath = if (qIdx >= 0) noFrag.substring(0, qIdx) else noFrag
    val query = if (qIdx >= 0) noFrag.substring(qIdx) else ""
    val path0 = removeDotSegments(pctNormalize(rawPath))
    val path = if (path0.isEmpty) "/" else path0
    UTF8String.fromString(
      scheme + "://" + userinfo + host +
        (if (keepPort) ":" + portVal else "") + path + pctNormalize(query))
  }

  /** §6.2.2.2: decode %XX escapes of unreserved characters
    * (ALPHA / DIGIT / '-' / '.' / '_' / '~'), uppercase the hex of
    * every other escape; malformed escapes pass through literally
    * (leniency — a strict reject would drop real crawl URLs over one
    * stray '%').
    */
  private def pctNormalize(p: String): String = {
    def hex(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    val sb = new java.lang.StringBuilder(p.length)
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '%' && i + 2 < p.length &&
        hex(p.charAt(i + 1)) >= 0 && hex(p.charAt(i + 2)) >= 0) {
        val v = hex(p.charAt(i + 1)) * 16 + hex(p.charAt(i + 2))
        val ch = v.toChar
        if ((ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z') ||
          (ch >= '0' && ch <= '9') || ch == '-' || ch == '.' || ch == '_' || ch == '~')
          sb.append(ch)
        else {
          sb.append('%')
          sb.append(Character.toUpperCase(p.charAt(i + 1)))
          sb.append(Character.toUpperCase(p.charAt(i + 2)))
        }
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** §5.2.4 remove_dot_segments — the RFC algorithm walked with an
    * index pointer instead of rebuilding the remaining input per
    * segment (the substring form is O(n²) per row, a real cost inside
    * a codegen expression fed adversarial crawl paths). The "/." and
    * "/.." endings that the RFC rewrites to "/" append the slash and
    * terminate directly — the equivalent continuation.
    */
  private def removeDotSegments(p: String): String = {
    val sb = new java.lang.StringBuilder(p.length)
    val n = p.length
    var i = 0
    def pop(): Unit = {
      val idx = sb.lastIndexOf("/")
      sb.setLength(if (idx >= 0) idx else 0)
    }
    while (i < n) {
      if (p.startsWith("../", i)) i += 3
      else if (p.startsWith("./", i)) i += 2
      else if (p.startsWith("/./", i)) i += 2 // consume "/.", keep the '/'
      else if (i + 2 == n && p.startsWith("/.", i)) { sb.append('/'); i = n }
      else if (p.startsWith("/../", i)) { pop(); i += 3 }
      else if (i + 3 == n && p.startsWith("/..", i)) { pop(); sb.append('/'); i = n }
      else if ((i + 1 == n && p.charAt(i) == '.') ||
        (i + 2 == n && p.startsWith("..", i))) i = n
      else {
        var j = if (p.charAt(i) == '/') i + 1 else i
        while (j < n && p.charAt(j) != '/') j += 1
        sb.append(p, i, j)
        i = j
      }
    }
    sb.toString
  }

  /** RFC 3986 §5.2 reference resolution composed with the §6
    * normalization above: resolve `ref` (an href/src attribute value
    * as found in HTML) against `base` (an ABSOLUTE http(s) URL) and
    * return the canonical target, or null when the target is out of
    * the http(s) contract (mailto:, javascript:, data:, tel:, a
    * malformed base) — the same NULL-degrade every URL kernel here
    * shares, so out-of-contract links drop visibly from a link graph
    * instead of throwing. Dot segments, default ports, case and
    * fragments are handled by [[canonicalizeUrl]] on the composed
    * target — resolution and normalization can never disagree.
    */
  def resolveUrl(base: UTF8String, ref: UTF8String): UTF8String = {
    if (base == null || ref == null) return null
    val r0 = ref.toString.trim
    val b = base.toString
    // ref carries its own scheme -> it IS the target (§5.2.2 strict)
    var k = 0
    var hasScheme = false
    if (r0.nonEmpty && isAlpha(r0.charAt(0))) {
      k = 1
      while (k < r0.length && isSchemeChar(r0.charAt(k))) k += 1
      hasScheme = k < r0.length && r0.charAt(k) == ':'
    }
    if (hasScheme) return canonicalizeUrl(UTF8String.fromString(r0))
    // parse the base once: scheme://authority path ?query
    val cIdx = b.indexOf("://")
    if (cIdx <= 0) return null
    val scheme = b.substring(0, cIdx)
    val rest = b.substring(cIdx + 3)
    var aEnd = 0
    while (aEnd < rest.length && rest.charAt(aEnd) != '/' &&
      rest.charAt(aEnd) != '?' && rest.charAt(aEnd) != '#') aEnd += 1
    val authority = rest.substring(0, aEnd)
    if (authority.isEmpty) return null
    val tail0 = rest.substring(aEnd)
    val hashIdx = tail0.indexOf('#')
    val tail = if (hashIdx >= 0) tail0.substring(0, hashIdx) else tail0
    val qIdx = tail.indexOf('?')
    val bPath = if (qIdx >= 0) tail.substring(0, qIdx) else tail
    val bQuery = if (qIdx >= 0) tail.substring(qIdx) else ""
    val target =
      if (r0.startsWith("//")) scheme + ":" + r0
      else if (r0.isEmpty || r0.charAt(0) == '#')
        scheme + "://" + authority + bPath + bQuery // same document
      else if (r0.charAt(0) == '?') scheme + "://" + authority + bPath + r0
      else if (r0.charAt(0) == '/') scheme + "://" + authority + r0
      else { // §5.2.3 merge: replace the last base segment
        val dir =
          if (bPath.isEmpty) "/"
          else bPath.substring(0, bPath.lastIndexOf('/') + 1)
        scheme + "://" + authority + dir + r0
      }
    canonicalizeUrl(UTF8String.fromString(target))
  }

  private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isSchemeChar(c: Char): Boolean =
    isAlpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'

  /** The first `<base href>` of an HTML document (the WHATWG rule:
    * later base elements are ignored), raw and entity-decoded — may
    * itself be relative, so callers resolve it against the page URL.
    * Null when absent. Shares [[htmlLinks]]'s scanner so the two can
    * never disagree on what a tag is; the scan STOPS at the first hit
    * (base lives in head — this walk is ~O(head), not O(document)).
    */
  def htmlBaseHref(html: UTF8String): UTF8String = {
    var found: String = null
    scanHtml(html.toString) { (_, tag, attr, value) =>
      if (tag == "base" && attr == "href") { found = value; false }
      else true
    }
    if (found == null) null else UTF8String.fromString(found)
  }

  /** All outlink references of an HTML document, one pass: the
    * `href`/`src` attribute values of its tags, in document order,
    * entity-decoded (the five predefined entities plus numeric
    * character references — attribute values legally escape `&` as
    * `&amp;`), with comment blocks and `script`/`style` element
    * CONTENT skipped (a JS string literal containing markup is not a
    * link) and fragment-only references dropped (they can never leave
    * the page). `<base href>` itself is not a link. Raw values —
    * resolution against the (base-adjusted) page URL is
    * [[resolveUrl]]'s job, so extraction stays resolution-agnostic.
    */
  def htmlLinks(html: UTF8String): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    scanHtml(html.toString) { (_, tag, attr, value) =>
      if ((attr == "href" || attr == "src") && tag != "base" &&
        value.nonEmpty && value.charAt(0) != '#')
        out += UTF8String.fromString(value)
      true
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** `<a href>` anchor pairs of one document — (raw href, visible
    * anchor text: nested markup stripped, entities decoded, whitespace
    * collapsed, capped) — on the same hardened scanner as the link and
    * meta extractors. Href-less and fragment-only anchors skip; a new
    * `<a>` implicitly closes the previous (anchors never nest); a torn
    * anchor at end of input is discarded; empty text (image links)
    * survives as "" — the href still carries graph signal.
    */
  def htmlAnchorPairs(html: String, maxAnchors: Int = 10000,
      maxTextLen: Int = 512): Seq[(String, String)] = {
    if (html == null) return Seq.empty
    val out = scala.collection.immutable.Vector.newBuilder[(String, String)]
    var n = 0
    var pendingHref: String = null // href attr of the tag being parsed
    var pendingIdx = -1
    var capturing = false
    var href: String = null
    val sb = new java.lang.StringBuilder
    def flush(): Boolean = {
      if (capturing) {
        val text = graft.operators.XmlDump.decodeEntities(sb.toString)
          .replaceAll("\\s+", " ").trim
        out += ((href, if (text.length > maxTextLen) text.substring(0, maxTextLen) else text))
        n += 1
        capturing = false
        sb.setLength(0)
      }
      n < maxAnchors
    }
    scanHtmlFull(html)(new HtmlSink {
      override def attr(idx: Int, tag: String, name: String, value: String): Boolean = {
        if (tag == "a" && name == "href") { pendingHref = value; pendingIdx = idx }
        true
      }
      override def open(idx: Int, tag: String, selfClose: Boolean): Boolean = {
        if (tag == "a") {
          if (!flush()) return false // implicit close: anchors never nest
          if (pendingIdx == idx && pendingHref != null &&
            pendingHref.nonEmpty && pendingHref.charAt(0) != '#') {
            capturing = true
            href = pendingHref
          }
        }
        pendingHref = null; pendingIdx = -1
        true
      }
      override def close(tag: String): Boolean =
        if (tag == "a") flush() else true
      override def text(t: String): Boolean = {
        if (capturing && sb.length < maxTextLen + 64) sb.append(t)
        true
      }
    })
    // a torn anchor (no close before end of input) is NOT emitted
    out.result()
  }

  /** [[htmlAnchorPairs]] as Catalyst data: array<struct<href, anchor>>
    * — the codegen entry of `graft_html_anchors`, so anchor extraction
    * stays off the Row-serialization path like its sibling link/meta
    * extractors.
    */
  def htmlAnchors(html: UTF8String): ArrayData = {
    val pairs = htmlAnchorPairs(html.toString)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      pairs.map { case (h, a) =>
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(h), UTF8String.fromString(a))
      }.toArray[Any])
  }

  /** The shared lenient tag scanner behind [[htmlLinks]] and
    * [[htmlBaseHref]]: walks tags left to right, skipping `<!-- -->`
    * comments and `<script>`/`<style>` content, and emits
    * (tagName, attrName, entityDecodedValue) for every attribute with
    * a value; a `false` from the sink stops the walk (the
    * first-base-wins early exit). Closing tags emit nothing and never
    * trigger the content skip — a stray `</script>` must not swallow
    * the rest of the document — and a tag only counts as
    * SELF-closing when the walk saw a standalone `/` right before
    * `>` (an unquoted attribute value ending in '/' is data, not
    * syntax). Never throws on torn markup — an unterminated tag or
    * comment simply ends the walk (untrusted crawl HTML).
    */
  /** The full event view of [[scanHtml]]'s walk — same hardening
    * (comment/script/style skipping, quoted-'>'-safe attribute parse,
    * torn-markup stop), richer events: between-tag TEXT (raw, not
    * entity-decoded), opening-tag completion (with the self-close
    * flag), and closing tags. Anchor-text extraction rides this so it
    * can never disagree with the link/meta scanners about what a tag
    * is. Any callback returning false stops the walk.
    */
  private[graft] trait HtmlSink {
    def attr(idx: Int, tag: String, name: String, value: String): Boolean = true
    def open(idx: Int, tag: String, selfClose: Boolean): Boolean = true
    def close(tag: String): Boolean = true
    def text(s: String): Boolean = true
  }

  private def scanHtml(h: String)(
      sink: (Int, String, String, String) => Boolean): Unit =
    scanHtmlFull(h)(new HtmlSink {
      override def attr(idx: Int, tag: String, name: String, value: String): Boolean =
        sink(idx, tag, name, value)
    })

  private[graft] def scanHtmlFull(h: String)(sink: HtmlSink): Unit = {
    val n = h.length
    var i = 0
    var tagIdx = -1 // ordinal of the current OPENING tag (sink correlation)
    while (i < n) {
      val lt = h.indexOf('<', i)
      if (lt < 0) { if (i < n) sink.text(h.substring(i)): Unit; return }
      if (lt > i && !sink.text(h.substring(i, lt))) return
      if (h.startsWith("<!--", lt)) {
        val end = h.indexOf("-->", lt + 4)
        if (end < 0) return
        i = end + 3
      } else {
        // tag name; a leading '/' marks a CLOSING tag
        var j = lt + 1
        val closing = j < n && h.charAt(j) == '/'
        if (closing) j += 1
        val nameStart = j
        while (j < n && (isAlpha(h.charAt(j)) ||
          (h.charAt(j) >= '0' && h.charAt(j) <= '9'))) j += 1
        val tag = h.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
        if (nameStart == j) { // '<' that opens no tag: it is TEXT; step past
          if (!sink.text("<")) return
          i = lt + 1
        } else {
          if (!closing) tagIdx += 1
          // attribute walk until '>' (or end of input)
          var closed = -1
          var selfClose = false
          while (j < n && closed < 0) {
            val c = h.charAt(j)
            if (c == '>') closed = j
            else if (c == '/') { // standalone slash: self-close iff before '>'
              selfClose = j + 1 < n && h.charAt(j + 1) == '>'
              j += 1
            } else if (c <= ' ') j += 1
            else {
              selfClose = false
              val aStart = j
              while (j < n && h.charAt(j) != '=' && h.charAt(j) != '>' &&
                h.charAt(j) > ' ' && h.charAt(j) != '/') j += 1
              val attr = h.substring(aStart, j)
                .toLowerCase(java.util.Locale.ROOT)
              // skip ws before a possible '='
              while (j < n && h.charAt(j) <= ' ') j += 1
              if (j < n && h.charAt(j) == '=') {
                j += 1
                while (j < n && h.charAt(j) <= ' ') j += 1
                if (j < n) {
                  val q = h.charAt(j)
                  val value =
                    if (q == '"' || q == '\'') {
                      val vEnd = h.indexOf(q, j + 1)
                      if (vEnd < 0) return // torn attribute: end the walk
                      val v = h.substring(j + 1, vEnd)
                      j = vEnd + 1
                      v
                    } else {
                      val vStart = j
                      while (j < n && h.charAt(j) > ' ' && h.charAt(j) != '>')
                        j += 1
                      h.substring(vStart, j)
                    }
                  if (!closing &&
                    !sink.attr(tagIdx, tag, attr, decodeEntities(value.trim))) return
                }
              }
            }
          }
          if (closed < 0) return // unterminated tag: end the walk
          i = closed + 1
          if (closing) { if (!sink.close(tag)) return }
          else if (!sink.open(tagIdx, tag, selfClose)) return
          // script/style CONTENT is opaque — skip to the closing tag
          // (openers only: a closing or self-closed tag has no content)
          if (!closing && !selfClose && (tag == "script" || tag == "style")) {
            val close = "</" + tag
            val k = indexOfIgnoreCase(h, close, i)
            if (k < 0) return
            val gt = h.indexOf('>', k)
            if (gt < 0) return
            i = gt + 1
          }
        }
      }
    }
  }

  /** Robots directive tokens → bitmask (1 = noindex, 2 = nofollow):
    * comma/whitespace-separated, case-insensitive, `none` = both,
    * everything else (`all`, `noarchive`, unknown) contributes
    * nothing. Shared by the `<meta name=robots>` scan and the
    * `X-Robots-Tag` header — the two places the same grammar arrives.
    */
  def robotsDirectiveMask(s: String): Int = {
    if (s == null) return 0
    var mask = 0
    s.toLowerCase(java.util.Locale.ROOT).split("[,\\s]+").foreach {
      case "noindex"  => mask |= 1
      case "nofollow" => mask |= 2
      case "none"     => mask |= 3
      case _          => ()
    }
    mask
  }

  /** The combined robots directive mask of a document's
    * `<meta name="robots" content="…">` tags (union — any tag saying
    * noindex makes the page noindex; attribute ORDER inside the tag
    * is free, which is why the scan correlates name/content by tag
    * ordinal). Rides [[scanHtml]], so comment blocks and script/style
    * content can't fake a meta tag.
    */
  def htmlMetaRobots(html: UTF8String): Int = {
    var mask = 0
    var curIdx = -1
    var curName: String = null
    var curContent: String = null
    def flush(): Unit = {
      if (curName != null && curName.equalsIgnoreCase("robots") && curContent != null)
        mask |= robotsDirectiveMask(curContent)
      curName = null; curContent = null
    }
    scanHtml(html.toString) { (idx, tag, attr, value) =>
      if (tag == "meta") {
        if (idx != curIdx) { flush(); curIdx = idx }
        if (attr == "name") curName = value
        else if (attr == "content") curContent = value
      }
      true
    }
    flush()
    mask
  }

  private def indexOfIgnoreCase(h: String, needle: String, from: Int): Int = {
    var i = from
    val max = h.length - needle.length
    while (i <= max) {
      var k = 0
      while (k < needle.length &&
        Character.toLowerCase(h.charAt(i + k)) == needle.charAt(k)) k += 1
      if (k == needle.length) return i
      i += 1
    }
    -1
  }

  /** The five predefined entities plus numeric character references —
    * what attribute values legally carry; unknown/malformed references
    * pass through literally (lenient, like the URL kernels).
    */
  private def decodeEntities(v: String): String = {
    if (v.indexOf('&') < 0) return v
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    val n = v.length
    while (i < n) {
      val c = v.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else {
        val semi = v.indexOf(';', i + 1)
        if (semi < 0 || semi - i > 10) { sb.append(c); i += 1 }
        else {
          val name = v.substring(i + 1, semi)
          val rep = name match {
            case "amp"  => "&"
            case "lt"   => "<"
            case "gt"   => ">"
            case "quot" => "\""
            case "apos" => "'"
            case _ =>
              if (name.length > 1 && name.charAt(0) == '#') {
                val num =
                  try {
                    if (name.charAt(1) == 'x' || name.charAt(1) == 'X')
                      Integer.parseInt(name.substring(2), 16)
                    else Integer.parseInt(name.substring(1))
                  } catch { case _: NumberFormatException => -1 }
                if (num >= 0 && num <= 0x10FFFF &&
                  !(num >= 0xD800 && num <= 0xDFFF))
                  new String(Character.toChars(num))
                else null
              } else null
          }
          if (rep == null) { sb.append(c); i += 1 }
          else { sb.append(rep); i = semi + 1 }
        }
      }
    }
    sb.toString
  }
}
