package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text hot path.
  *
  * The composed `transform(sequence(...), i -> concat_ws(slice(...)))`
  * formulation of shingling runs the lambda through Spark's *interpreted*
  * higher-order-function evaluator — per-element wrapper rows, no codegen.
  * Profiling the dedup pipelines at sf0.1 shows that interpretation (not
  * hashing, not shuffles) dominating. These expressions are tight loops
  * over the row's string with `doGenCode`, semantically identical to the
  * composed form (single-space split incl. empty tokens, first-occurrence
  * distinct order) so the DuckDB oracles are unchanged.
  */
object TextOps {

  /** Kernel of [[NormalizeText]] — see its scaladoc for the contract. */
  def normalizeText(text: UTF8String): UTF8String = {
    val bytes = text.toLowerCase.getBytes
    val out = new Array[Byte](bytes.length)
    var n = 0
    var prevSpace = true // suppresses leading spaces
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        out(n) = b; n += 1; prevSpace = false
      } else if (b == ' ') {
        // a space after a dropped char still collapses: the regex chain
        // removes first, THEN collapses runs — prevSpace survives drops
        if (!prevSpace) { out(n) = ' '; n += 1; prevSpace = true }
      }
      i += 1
    }
    if (n > 0 && out(n - 1) == ' ') n -= 1
    UTF8String.fromBytes(out, 0, n)
  }

  /** Distinct k-shingles of a single-space-tokenized text, in
    * first-occurrence order; length < k tokens → empty array.
    * Matches `array_distinct(transform(sequence(1, n-k+1),
    * i -> concat_ws(" ", slice(split(text, " "), i, k))))` exactly
    * (Spark split keeps empty tokens; concat_ws joins them back).
    */
  def shingles(text: UTF8String, k: Int): ArrayData = shingles(text, k, true)

  def shingles(text: UTF8String, k: Int, distinct: Boolean): ArrayData = {
    val s = text.toString
    // Spark's split(text, " ") is regex-based with limit -1: single-space
    // split keeping empty tokens, but trailing empties are KEPT by Java's
    // split only with limit -1 — mirror that
    val toks = s.split(" ", -1)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val seen =
      if (distinct) new java.util.LinkedHashSet[UTF8String](math.min(n, 1024))
      else new java.util.ArrayList[UTF8String](n)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    new GenericArrayData(out)
  }

  /** Distinct 31-bit md5-prefix hashes of the k-shingles, in
    * first-occurrence order: the fused form of
    * `array_distinct(transform(shingles(text, k),
    * s -> conv(substring(md5(s), 1, 8), 16, 10) % 2147483647))` — one
    * tight loop per row instead of an interpreted HOF lambda invoking the
    * md5 expression per element, which profiling shows dominating the
    * dedup pipelines. The first 8 hex chars of md5 are the first 4 digest
    * bytes big-endian unsigned; dedup on the hash value subsumes dedup on
    * the shingle (collisions merge identically in the DuckDB oracle, which
    * applies the same reduction).
    */
  def shingleHashes31(text: UTF8String, k: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashSet[java.lang.Long](math.min(n, 1024))
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val prefix = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      seen.add(prefix % 2147483647L)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next().longValue(); idx += 1 }
    new GenericArrayData(out)
  }

  /** POSITIONAL (non-distinct) variant of [[shingleHashes31]]: one hash
    * per k-shingle occurrence, in position order — `transform(
    * shinglesAll(text, k), s -> shingleHash31(s))` fused into one loop.
    * Exists for the occurrence-level operators ([[graft.operators.Dedup
    * .spanCut]]): `posexplode` over this array yields (pos, hash) pairs
    * directly, so the exchange-bound subtree never materializes the span
    * STRINGS the composed spelling pushed through the explode (r13;
    * parity with the composed spelling pinned in TextExpressionsSpec).
    * Same md5-prefix arithmetic as [[shingleHashes31]] — the DuckDB
    * oracle's hash CTE re-derives it verbatim.
    */
  def shingleHashes31All(text: UTF8String, k: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](n)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val prefix = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      out(i) = prefix % 2147483647L
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Kernel of [[RepetitionStatsExpr]]: per-document k-gram repetition —
    * `(n_grams, top_count)` where `top_count` is the highest occurrence
    * count of any single k-gram WITHIN the document. Exact string
    * counting via a per-row hash map keyed by the gram text (bounded by
    * the doc's own gram count — the same per-doc bound as every kernel
    * here); one compiled call per ROW where the HOF spelling ran an
    * interpreted Catalyst lambda per GRAM (r12 x1000: 57.2 s HOF vs
    * DuckDB 25.7 s — the per-element dispatch was the query).
    * Fewer than k tokens → (0, 0); callers filter on n_grams >= 1
    * exactly like the old explode() dropped empty gram arrays.
    */
  def repetitionStats(text: UTF8String, k: Int): InternalRow = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length - k + 1
    if (n <= 0) return InternalRow(0L, 0L)
    val counts = new java.util.HashMap[String, Integer](
      math.min(n * 2, 2048))
    val sb = new java.lang.StringBuilder(64)
    var best = 0
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val key = sb.toString
      val prev = counts.get(key)
      val c = if (prev == null) 1 else prev.intValue() + 1
      counts.put(key, Integer.valueOf(c))
      if (c > best) best = c
      i += 1
    }
    InternalRow(n.toLong, best.toLong)
  }

  /** Kernel of [[JsonTopScalars]]: extract the values of the requested
    * TOP-LEVEL keys from a JSON object in ONE forward pass, no tree/
    * variant materialization. Contract (deliberately narrower than
    * get_json_object, pinned by JsonKernelSpec):
    *
    *   - string values → unescaped text (full JSON escapes incl.
    *     \uXXXX surrogate pairs) — same as get_json_object;
    *   - number/boolean values → their literal source text (numbers are
    *     NOT re-rendered: "1.50" stays "1.50");
    *   - JSON null, missing key, or a NON-SCALAR value (object/array) →
    *     SQL NULL (get_json_object would return the re-serialized
    *     subtree for the latter — this kernel is a typed SCALAR
    *     extractor, callers wanting subtrees use parse_json/variant);
    *   - first occurrence of a duplicate key wins — INCLUDING when that
    *     occurrence maps to SQL NULL (JSON null / non-scalar): later
    *     duplicates never overwrite the first occurrence's verdict;
    *   - malformed JSON or a non-object root → every output NULL.
    *     Detection note: bracket kinds are validated everywhere (a '['
    *     closed by '}' fails), but ','/':' PLACEMENT inside values the
    *     caller did not request is not fully validated — a document
    *     malformed only in that narrow way inside a skipped region may
    *     still yield the requested scalars.
    *
    * Scale rationale (r12 x1000 audit): parse_json cost ~80 ns/row on
    * 100M tiny objects (8.4 s for ONE field, scan floor 0.69 s) and
    * DuckDB evaluates the extraction once per parquet-dictionary value;
    * this walk reads each byte once for all requested keys at once.
    */
  def jsonTopScalars(text: UTF8String, keys: Array[String]): ArrayData = {
    val out = new Array[Any](keys.length)
    val s = text.toString
    val n = s.length
    var i = 0
    def ws(): Unit = { while (i < n && { val c = s.charAt(i)
      c == ' ' || c == '\t' || c == '\n' || c == '\r' }) i += 1 }
    def fail(): ArrayData = { java.util.Arrays.fill(out, null)
      new GenericArrayData(out) }
    // parse a JSON string starting at the opening quote; returns the
    // unescaped value and leaves i past the closing quote, or null on
    // malformed (caller propagates)
    def str(): String = {
      if (i >= n || s.charAt(i) != '"') return null
      i += 1
      val sb = new java.lang.StringBuilder(16)
      while (i < n) {
        val c = s.charAt(i)
        if (c == '"') { i += 1; return sb.toString }
        else if (c == '\\') {
          if (i + 1 >= n) return null
          i += 1
          s.charAt(i) match {
            case '"' => sb.append('"'); case '\\' => sb.append('\\')
            case '/' => sb.append('/'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f'); case 'n' => sb.append('\n')
            case 'r' => sb.append('\r'); case 't' => sb.append('\t')
            case 'u' =>
              if (i + 4 >= n) return null
              var h = 0
              var cp = 0
              while (h < 4) {
                val d = Character.digit(s.charAt(i + 1 + h), 16)
                if (d < 0) return null
                cp = (cp << 4) | d
                h += 1
              }
              sb.append(cp.toChar); i += 4
            case _ => return null
          }
          i += 1
        } else { sb.append(c); i += 1 }
      }
      null // unterminated
    }
    // true/false/null or a syntactically valid JSON number
    def validScalar(raw: String): Boolean =
      raw == "true" || raw == "false" || raw == "null" || {
        var j = 0
        val m = raw.length
        if (m == 0) return false
        if (raw.charAt(j) == '-') j += 1
        val intStart = j
        if (j < m && raw.charAt(j) == '0') j += 1
        else { while (j < m && raw.charAt(j).isDigit) j += 1 }
        if (j == intStart) return false
        if (j < m && raw.charAt(j) == '.') {
          j += 1; val fs = j
          while (j < m && raw.charAt(j).isDigit) j += 1
          if (j == fs) return false
        }
        if (j < m && (raw.charAt(j) == 'e' || raw.charAt(j) == 'E')) {
          j += 1
          if (j < m && (raw.charAt(j) == '+' || raw.charAt(j) == '-')) j += 1
          val es = j
          while (j < m && raw.charAt(j).isDigit) j += 1
          if (j == es) return false
        }
        j == m
      }
    // skip one JSON value of any shape; returns false on malformed.
    // Bracket KINDS are tracked on a bit-stack (bit=1 → '{', bit=0 → '[')
    // so a '[' closed by '}' is rejected, not silently accepted; depth is
    // bounded only by the input length (the bit-stack grows by chunks of
    // 64 levels, no recursion). Deliberately lax: stray ','/':' placement
    // INSIDE a skipped structure is not fully validated (that would need
    // a per-level element/key state machine for values the caller threw
    // away) — pinned by JsonKernelSpec's malformed-input cases.
    def skipValue(): Boolean = {
      var depth = 0
      var stack = 0L            // bracket kinds for levels 0..63
      var deepStack: Array[Long] = null // lazily grown past 64 levels
      def push(curly: Boolean): Unit = {
        if (depth < 64) {
          stack = if (curly) stack | (1L << depth) else stack & ~(1L << depth)
        } else {
          val w = depth / 64 - 1
          if (deepStack == null || w >= deepStack.length) {
            val grown = new Array[Long](if (deepStack == null) 4 else deepStack.length * 2)
            if (deepStack != null) System.arraycopy(deepStack, 0, grown, 0, deepStack.length)
            deepStack = grown
          }
          val b = depth % 64
          deepStack(w) = if (curly) deepStack(w) | (1L << b) else deepStack(w) & ~(1L << b)
        }
        depth += 1
      }
      def popIsCurly(): Boolean = {
        depth -= 1
        if (depth < 64) (stack & (1L << depth)) != 0
        else (deepStack(depth / 64 - 1) & (1L << (depth % 64))) != 0
      }
      do {
        ws()
        if (i >= n) return false
        s.charAt(i) match {
          case '{' => push(curly = true); i += 1
          case '[' => push(curly = false); i += 1
          case c @ ('}' | ']') =>
            if (depth == 0) return false
            if (popIsCurly() != (c == '}')) return false // kind mismatch
            i += 1
          case '"' => if (str() == null) return false
          case ',' | ':' if depth > 0 => i += 1
          case _ => // scalar token: scan to its end and validate syntax
            val st = i
            while (i < n && { val c = s.charAt(i)
              c != ',' && c != '}' && c != ']' && c != ':' && c != ' ' &&
                c != '\t' && c != '\n' && c != '\r' }) i += 1
            if (i == st || !validScalar(s.substring(st, i))) return false
        }
        // inside a structure, keep consuming until it closes
      } while (depth > 0)
      true
    }
    ws()
    if (i >= n || s.charAt(i) != '{') return fail()
    i += 1
    // a slot is CONSUMED by the first occurrence of its key in the
    // document even when that occurrence maps to SQL NULL (JSON null or a
    // non-scalar) — first-occurrence-wins is about which occurrence
    // decides, not about which produces a non-null value (r12 ADVICE: a
    // later duplicate must not fill a slot the first occurrence nulled)
    val consumed = new Array[Boolean](keys.length)
    var remaining = keys.length
    var first = true
    while (true) {
      ws()
      if (i >= n) return fail()
      if (s.charAt(i) == '}') {
        i += 1; ws()
        return if (i == n) new GenericArrayData(out) else fail()
      }
      if (!first) {
        if (s.charAt(i) != ',') return fail()
        i += 1; ws()
      }
      first = false
      val key = str()
      if (key == null) return fail()
      ws()
      if (i >= n || s.charAt(i) != ':') return fail()
      i += 1; ws()
      // does this key match any unfilled output slot? (a key requested
      // twice fills BOTH slots from the one parse — first-occurrence-wins
      // applies to duplicate keys in the DOCUMENT, not in the request)
      var slot = -1
      var kIdx = 0
      while (kIdx < keys.length && slot < 0) {
        if (keys(kIdx) == key && !consumed(kIdx)) slot = kIdx
        kIdx += 1
      }
      // v == null consumes the slot(s) and leaves them SQL NULL
      def fill(v: UTF8String): Unit = {
        var j = slot
        while (j < keys.length) {
          if (keys(j) == key && !consumed(j)) {
            consumed(j) = true; out(j) = v; remaining -= 1
          }
          j += 1
        }
      }
      if (slot < 0 || remaining == 0) {
        if (!skipValue()) return fail()
      } else {
        if (i >= n) return fail()
        s.charAt(i) match {
          case '"' =>
            val v = str()
            if (v == null) return fail()
            fill(UTF8String.fromString(v))
          case '{' | '[' =>
            if (!skipValue()) return fail()
            fill(null) // non-scalar → NULL by contract, slot consumed
          case _ =>
            val st = i
            if (!skipValue()) return fail()
            val raw = s.substring(st, i).trim
            // JSON null → SQL NULL; either way this occurrence decides
            fill(if (raw == "null") null else UTF8String.fromString(raw))
        }
      }
    }
    fail() // unreachable
  }

  /** Kernel of [[TokenCount]]: `size(split(text, " ", -1))` = the number
    * of 0x20 bytes + 1 (single-space convention; a space byte never
    * occurs inside a multi-byte UTF-8 sequence). The composed spelling
    * runs the regex engine AND materializes the token array just to take
    * its size.
    */
  def tokenCount(text: UTF8String): Long = {
    val bytes = text.getBytes
    var n = 1L
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') n += 1
      i += 1
    }
    n
  }

  /** Kernel of [[ProfileTallies]]: ONE byte-traversal over `text`
    * producing every token- and char-level tally `TextAnalysis.profile`
    * needs, as a struct row
    * `(nw, chars, rtok, punct, <one hit count per word list>)`:
    *
    *   - nw    = `size(split(text, " ", -1))` — spaces + 1 (empty tokens
    *             counted, Java limit -1 semantics, the [[shingles]]
    *             contract)
    *   - chars = sum of per-token code-point lengths (= non-space code
    *             points; `aggregate`'s `acc.chars + length(t)`)
    *   - rtok  = `size(regexp_extract_all(text,
    *             "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"))` — maximal letter
    *             runs + maximal digit runs + one per remaining non-space
    *             code point (left-to-right regex alternation semantics)
    *   - punct = `length(text) - length(regexp_replace(text,
    *             "[^a-zA-Z0-9 ]", ""))` — code points outside
    *             `[a-zA-Z0-9 ]` (every non-ASCII code point qualifies)
    *   - hits  = per word list, the number of tokens byte-equal to any
    *             list entry (`isin` semantics; a token can hit several
    *             LISTS — "la" is both es and fr — but counts once per
    *             list)
    *
    * Replaces the interpreted `aggregate` HOF lambda (per-token wrapper
    * rows + a struct allocation per token + linear `isin` scans) AND the
    * two Java-regex passes — at x1000 the composed/HOF formulation made
    * text_profile the weakest text operator on the board (360 s steady
    * vs DuckDB 67 s; profile-driven rewrite, r12).
    */
  def profileTallies(text: UTF8String,
                     lists: Array[Array[Array[Byte]]]): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val nLists = lists.length
    val hits = new Array[Long](nLists)
    var nw = 1L
    var chars = 0L
    var punct = 0L
    var rtok = 0L
    var tokStart = 0
    var prevClass = 0 // 0 = boundary/other, 1 = letter run, 2 = digit run
    def matchToken(endExclusive: Int): Unit = {
      val len = endExclusive - tokStart
      if (len > 0) {
        var li = 0
        while (li < nLists) {
          val ws = lists(li)
          var wi = 0
          var matched = false
          while (wi < ws.length && !matched) {
            val w = ws(wi)
            if (w.length == len) {
              var k = 0
              var eq = true
              while (eq && k < len) {
                if (bytes(tokStart + k) != w(k)) eq = false
                k += 1
              }
              matched = eq
            }
            wi += 1
          }
          if (matched) hits(li) += 1
          li += 1
        }
      }
    }
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == ' ') {
        matchToken(i)
        nw += 1
        tokStart = i + 1
        prevClass = 0
      } else if ((b & 0xC0) != 0x80) { // lead byte = one code point
        chars += 1
        val isLetter = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
        val isDigit = b >= '0' && b <= '9'
        if (isLetter) {
          if (prevClass != 1) rtok += 1
          prevClass = 1
        } else if (isDigit) {
          if (prevClass != 2) rtok += 1
          prevClass = 2
        } else { // ASCII punctuation/control or any non-ASCII code point
          punct += 1
          rtok += 1
          prevClass = 0
        }
      }
      i += 1
    }
    matchToken(bytes.length)
    val out = new Array[Any](4 + nLists)
    out(0) = nw
    out(1) = chars
    out(2) = rtok
    out(3) = punct
    var h = 0
    while (h < nLists) { out(4 + h) = hits(h); h += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  /** Canonical MinHash affine-permutation coefficients — the single source
    * shared by [[minhashSigs]], `Dedup.minhashCoeffs` and every DuckDB
    * oracle re-derivation.
    */
  def minhashCoeffA(i: Int): Long = (1103515245L * (i + 1) + 7L) % 2147483647L
  def minhashCoeffB(i: Int): Long = (12345L + 104729L * i) % 2147483647L

  /** The numPerm MinHash signature values of a hashed-shingle array:
    * sig_p = min over h of (a_p*h + b_p) mod 2^31-1 — the fused form of
    * numPerm `array_min(transform(hs, ...))` columns, whose HOF lambdas
    * evaluate interpreted (numPerm × |hs| wrapper evals per row). One
    * arithmetic loop; inputs are 31-bit so a*h stays well inside a long.
    * Null for an empty array (parity with `array_min`).
    */
  def minhashSigs(hs: ArrayData, numPerm: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val out = new Array[Any](numPerm)
    var p = 0
    while (p < numPerm) {
      val a = minhashCoeffA(p)
      val b = minhashCoeffB(p)
      var mn = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = (hs.getLong(i) * a + b) % 2147483647L
        if (v < mn) mn = v
        i += 1
      }
      out(p) = mn
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Term-frequency pairs of a single-space-tokenized text (tokens
    * INCLUDING empties, mirroring `split(text, " ")` with limit -1 and
    * DuckDB's `string_split`) as `array<struct<term, tf>>`, in
    * first-occurrence order. The fused, shuffle-free form of
    * `explode(split(text)) → groupBy(doc, term) → count`: term counting is
    * per-row arithmetic, so doing it inside the scan stage removes the
    * corpus-wide (doc, term) exchange entirely — only the already-counted
    * distinct pairs ever leave the stage.
    */
  def termCounts(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val m = new java.util.LinkedHashMap[String, Long](math.min(toks.length * 2, 1024))
    var i = 0
    while (i < toks.length) {
      m.merge(toks(i), 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[Any](m.size)
    var idx = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(idx) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(e.getKey), e.getValue)
      idx += 1
    }
    new GenericArrayData(out)
  }

  /** Kernel of [[ProbeTermStats]]: ONE byte-traversal over the
    * single-space token structure of `text`, returning
    * `[dl, tf_0, …, tf_{k-1}]` — dl = token count of
    * `split(text, " ", -1)` (empty tokens counted, trailing empties kept:
    * Java limit -1 semantics, same contract as [[shingles]]), tf_i = the
    * number of tokens byte-equal to `terms(i)`. Replaces k+1 independent
    * regex `split` evaluations (each materializing a token array) in the
    * BM25 hot path; byte-wise equality is exact UTF-8 token equality, so
    * results match `size(filter(split(text, " "), _ === term))`.
    */
  def probeTermStats(text: UTF8String, terms: Array[Array[Byte]]): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val k = terms.length
    val out = new Array[Long](k + 1)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        out(0) += 1 // dl: every segment counts, empty ones included
        val len = i - start
        var t = 0
        while (t < k) {
          val tb = terms(t)
          if (tb.length == len) {
            var j = 0
            while (j < len && tb(j) == bytes(start + j)) j += 1
            if (j == len) out(t + 1) += 1
          }
          t += 1
        }
        start = i + 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** All strictly-ordered (a < b) pairs of a long array after sort+dedup —
    * see [[ArrayPairs]]. Equal values never pair (no (x, x) self-pairs),
    * exactly the `a.id < b.id` predicate of the self-join this replaces.
    */
  def arrayPairs(a: ArrayData): ArrayData = {
    val n0 = a.numElements()
    val raw = new Array[Long](n0)
    var i = 0
    while (i < n0) { raw(i) = a.getLong(i); i += 1 }
    java.util.Arrays.sort(raw)
    // in-place dedup of the sorted ids
    var n = 0
    i = 0
    while (i < n0) {
      if (n == 0 || raw(i) != raw(n - 1)) { raw(n) = raw(i); n += 1 }
      i += 1
    }
    // Long count first: n*(n-1)/2 overflows Int from n = 65536, silently
    // sizing a negative/wrapped array. A single row cannot sensibly hold
    // more pairs than this anyway — callers must route bigger id lists
    // through a distributed self-join (see Dedup.lshCandidates).
    val nPairs = n.toLong * (n - 1) / 2
    require(nPairs <= 4194304L,
      s"array_pairs: $n ids expand to $nPairs pairs in ONE row — cap the " +
        "list (df-cut) or use a self-join for buckets this large")
    val out = new Array[Any](nPairs.toInt)
    var idx = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(idx) = org.apache.spark.sql.catalyst.InternalRow(raw(i), raw(j))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Polynomial rolling hash over the string's codepoints:
    * h = fold(0)((h, cp) => (h * 31 + cp) mod 1e9+7). Codepoint-based (not
    * byte) and mod-bounded so the identical fold is expressible in ANSI-ish
    * SQL (`list_reduce` + `ascii` in DuckDB) for oracle parity; empty
    * string hashes to 0 on both engines.
    */
  def rollingHash(text: UTF8String): Long = {
    val s = text.toString
    var h = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Banded Levenshtein with early exit: returns the exact edit distance
    * when it is <= maxDist, otherwise maxDist+1 (so a `<= maxDist` filter
    * behaves identically to filtering the exact distance). Two-row DP that
    * bails as soon as the row minimum exceeds maxDist — valid because DP
    * values are non-decreasing along any path and every path to (n,m)
    * crosses each row. Char-based (UTF-16 units), which matches both
    * Spark's `levenshtein` and DuckDB's for the BMP text this library
    * normalizes to; the length-difference pre-check rejects most
    * cross-bucket pairs in O(1).
    */
  def boundedLevenshtein(a: UTF8String, b: UTF8String, maxDist: Int): Long = {
    val s = a.toString
    val t = b.toString
    if (math.abs(s.length - t.length) > maxDist) return maxDist + 1L
    // strip the common prefix and suffix before the DP: Levenshtein is
    // invariant under removing a shared prefix or (then) a shared suffix
    // (standard identity, e.g. commons-text does the same). The near-dup
    // callers bucket by a shared 8-char fingerprint, so every pair this
    // kernel sees starts with >= 8 identical chars — the strip removes
    // those rows/cols from the quadratic DP for free.
    var lo = 0
    val minLen = math.min(s.length, t.length)
    while (lo < minLen && s.charAt(lo) == t.charAt(lo)) lo += 1
    var n = s.length
    var m = t.length
    while (n > lo && m > lo && s.charAt(n - 1) == t.charAt(m - 1)) { n -= 1; m -= 1 }
    n -= lo
    m -= lo
    if (n == 0) return m.toLong
    if (m == 0) return n.toLong
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = i
      var rowMin = i
      val sc = s.charAt(lo + i - 1)
      j = 1
      while (j <= m) {
        var v = prev(j - 1) + (if (sc == t.charAt(lo + j - 1)) 0 else 1)
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > maxDist) return maxDist + 1L
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    val d = prev(m)
    if (d > maxDist) maxDist + 1L else d.toLong
  }

  /** 16-bucket character histogram of a string, counts clamped at 15 and
    * packed 4 bits per bucket into one long — the row-side half of the
    * [[histL1]] edit-distance lower bound. Bucket = `(c ^ (c >>> 4)) & 15`
    * (mixes bits above the low nibble so an alphabet spanning one 16-char
    * code block still spreads).
    */
  def histSig16(s: UTF8String): Long = {
    val str = s.toString
    var sig = 0L
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      val shift = ((c ^ (c >>> 4)) & 15) << 2
      if (((sig >>> shift) & 0xfL) < 15L) sig += (1L << shift)
      i += 1
    }
    sig
  }

  /** L1 distance between two [[histSig16]] signatures. A single edit
    * operation moves at most one character between histogram buckets, so
    * it changes the (unclamped) L1 by at most 2; clamping each bucket at
    * 15 is 1-Lipschitz per lane and can only shrink the L1. Hence
    * `histL1(sig(a), sig(b)) > 2*k` PROVES `levenshtein(a, b) > k` — a
    * ~30-op reject that runs before the O(n*k) DP and never changes which
    * pairs survive a `<= k` filter.
    */
  def histL1(a: Long, b: Long): Long = {
    var sum = 0L
    var i = 0
    while (i < 64) {
      val x = (a >>> i) & 0xfL
      val y = (b >>> i) & 0xfL
      sum += math.abs(x - y)
      i += 4
    }
    sum
  }

  /** 16-bit SimHash over distinct single-space tokens: bit b is set when
    * the sum over tokens of (+1 if hex nibble b of md5(token) >= 8 else -1)
    * is positive. Bit-identical to the composed Column formulation in
    * [[graft.operators.Dedup.simhash16]] and the DuckDB oracle.
    */
  def simhash16(text: UTF8String): Long = {
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val votes = new Array[Int](16)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var b = 0
        while (b < 16) {
          // hex char at position b is the high nibble of byte b/2 when b is
          // even, low nibble when odd; "char >= '8'" == nibble >= 8
          val nibble =
            if (b % 2 == 0) (d(b / 2) >> 4) & 0xf else d(b / 2) & 0xf
          votes(b) += (if (nibble >= 8) 1 else -1)
          b += 1
        }
        md.reset()
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 16) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** Single-pass normalization kernel equivalent to
  * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))`:
  * lowercase via `UTF8String.toLowerCase` (the exact kernel behind Spark's
  * `lower()`), keep only `[a-z0-9 ]` bytes — every byte of a multi-byte
  * UTF-8 char is >= 0x80 and therefore drops, exactly as the char class
  * drops the whole char — collapse space runs, strip the leading/trailing
  * space. One allocation, no regex: the two Java-regex passes were the
  * dominant scan cost of the whole fingerprint family (the x10 profile put
  * all 2.2 s of dedup_normalized in this one stage; DuckDB's RE2 does the
  * same chain ~400x faster, so the regex formulation was pure engine tax).
  */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def prettyName: String = "normalize_text"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  override def nullSafeEval(t: Any): Any =
    TextOps.normalizeText(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.normalizeText($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class RollingHash(child: Expression) extends UnaryExpression {
  override def prettyName: String = "rolling_hash"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  override def nullSafeEval(t: Any): Any =
    TextOps.rollingHash(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.rollingHash($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class ShingleArray(child: Expression, k: Int, distinct: Boolean = true)
    extends UnaryExpression {
  require(k >= 1, "shingle size must be >= 1")
  override def prettyName: String = "shingle_array"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  override def nullSafeEval(t: Any): Any =
    TextOps.shingles(t.asInstanceOf[UTF8String], k, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.shingles($c, $k, $distinct)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hashed-shingle set of a document as `array<long>` — see
  * [[TextOps.shingleHashes31]]. The entry point of the dedup family
  * ([[graft.operators.Dedup.docShingleHashes]]).
  */
case class ShingleHash31Array(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, "shingle size must be >= 1")
  override def prettyName: String = "shingle_hash31_array"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  override def nullSafeEval(t: Any): Any =
    TextOps.shingleHashes31(t.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.shingleHashes31($c, $k)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Positional (non-distinct) k-shingle md5-prefix hashes — see
  * [[TextOps.shingleHashes31All]].
  */
case class ShingleHash31AllArray(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, "shingle size must be >= 1")
  override def prettyName: String = "shingle_hash31_all_array"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  override def nullSafeEval(t: Any): Any =
    TextOps.shingleHashes31All(t.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.shingleHashes31All($c, $k)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All strictly-ordered pairs (a < b) of a long array, as
  * array<struct<a,b>> — the bucket-local pair expansion of LSH candidate
  * generation. Input ids are sorted and deduped first, so the output is
  * deterministic whatever order `collect_list` delivered them in and equal
  * ids never self-pair. Output size is m(m-1)/2 over distinct ids: callers
  * MUST bound m (the band df-cut) before expanding.
  */
/** Token-id encoding of a single-space-tokenized text against a FIXED
  * vocabulary: token i of the text maps to `1 + indexOf(vocab)` (rank ids,
  * 1-based), unknown tokens to `oovId`. The vocabulary ships as a REAL
  * Spark broadcast — the serialized expression carries only the handle, so
  * the strings deserialize once per executor and the lookup map is built
  * once per executor ([[VocabEncode.mapFor]]), not per task. Encoding is
  * per-row arithmetic (O(1) hash lookups per token), so a corpus encodes
  * inside the scan stage with ZERO shuffles; only the vocab build
  * ([[graft.operators.TextAnalysis.tokenEncode]]) ever aggregates.
  */
case class VocabEncode(child: Expression,
                       vocab: org.apache.spark.broadcast.Broadcast[Array[String]],
                       oovId: Long)
    extends UnaryExpression {
  override def prettyName: String = "vocab_encode"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  // built ONCE per executor (keyed by broadcast id), not per task: the
  // expression deserializes per task, but it carries only the broadcast
  // HANDLE — the vocab strings and the lookup map are shared executor-wide
  @transient private lazy val ids: java.util.HashMap[String, java.lang.Long] =
    VocabEncode.mapFor(vocab)

  def encode(t: UTF8String): ArrayData = {
    val toks = t.toString.split(" ", -1)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      val id = ids.get(toks(i))
      // boxed lookup: a primitive-typed map would silently unbox a missing
      // key's null to 0 and make the OOV branch unreachable
      out(i) = if (id eq null) oovId else id.longValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(t: Any): Any = encode(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vocabEncode", this, classOf[VocabEncode].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encode($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VocabEncode {
  // executor-wide cache of built lookup maps, one per broadcast vocab —
  // tasks share the map instead of re-inserting up to MaxVocabSize entries
  private val built =
    new java.util.concurrent.ConcurrentHashMap[Long, java.util.HashMap[String, java.lang.Long]]()

  private[functions] def mapFor(
      bc: org.apache.spark.broadcast.Broadcast[Array[String]]): java.util.HashMap[String, java.lang.Long] =
    built.computeIfAbsent(bc.id, _ => {
      val v = bc.value
      val m = new java.util.HashMap[String, java.lang.Long](v.length * 2)
      var i = 0
      while (i < v.length) { m.put(v(i), java.lang.Long.valueOf(i + 1L)); i += 1 }
      m
    })
}

/** Per-document term-frequency struct array — see [[TextOps.termCounts]]. */
case class TermCountArray(child: Expression) extends UnaryExpression {
  override def prettyName: String = "term_count_array"
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("term", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  override def nullSafeEval(t: Any): Any =
    TextOps.termCounts(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.termCounts($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fused per-document BM25 scan statistics — see
  * [[TextOps.probeTermStats]]. `terms` are plan literals (query terms are
  * small by contract), carried as pre-encoded UTF-8 byte arrays through a
  * codegen reference object so the generated code shares one kernel call
  * per row where the composed form re-splits the text k+1 times.
  */
case class ProbeTermStats(child: Expression, terms: Seq[String])
    extends UnaryExpression {
  override def prettyName: String = "probe_term_stats"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  @transient private lazy val termBytes: Array[Array[Byte]] =
    terms.iterator.map(t => UTF8String.fromString(t).getBytes).toArray

  override def nullSafeEval(t: Any): Any =
    TextOps.probeTermStats(t.asInstanceOf[UTF8String], termBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termBytes", termBytes, "byte[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.probeTermStats($c, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Whitespace token count — see [[TextOps.tokenCount]]. */
case class TokenCount(child: Expression) extends UnaryExpression {
  override def prettyName: String = "token_count"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  override def nullSafeEval(t: Any): Any =
    TextOps.tokenCount(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.tokenCount($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fused per-document profile tallies — see [[TextOps.profileTallies]].
  * `stopwords` and `markers` are plan literals (tiny fixed lexicons),
  * pre-encoded to UTF-8 byte arrays and shared through a codegen
  * reference object: one kernel call per row where the HOF/regex
  * formulation ran an interpreted lambda per TOKEN plus two regex passes.
  * Struct field order is `(nw, chars, rtok, punct, stop, <markers…>)`,
  * mirrored by [[TextOps.profileTallies]]'s output array.
  */
case class ProfileTallies(child: Expression, stopwords: Seq[String],
                          markers: Seq[(String, Seq[String])])
    extends UnaryExpression {
  override def prettyName: String = "profile_tallies"
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("nw", "chars", "rtok", "punct", "stop").map(f =>
      org.apache.spark.sql.types.StructField(f, LongType, nullable = false)) ++
      markers.map { case (l, _) =>
        org.apache.spark.sql.types.StructField(l, LongType, nullable = false) })
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  @transient private lazy val lists: Array[Array[Array[Byte]]] =
    (stopwords +: markers.map(_._2)).iterator
      .map(_.iterator.map(w => UTF8String.fromString(w).getBytes).toArray)
      .toArray

  override def nullSafeEval(t: Any): Any =
    TextOps.profileTallies(t.asInstanceOf[UTF8String], lists)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lists", lists, "byte[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.profileTallies($c, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Top-level scalar JSON extraction — see [[TextOps.jsonTopScalars]] for
  * the exact (deliberately scalar-only) contract. One byte-walk per row
  * for ALL requested keys; no Jackson tree / variant materialization.
  */
case class JsonTopScalars(child: Expression, keys: Seq[String])
    extends UnaryExpression {
  require(keys.nonEmpty, "jsonTopScalars: at least one key")
  override def prettyName: String = "json_top_scalars"
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  @transient private lazy val keyArr: Array[String] = keys.toArray

  override def nullSafeEval(t: Any): Any =
    TextOps.jsonTopScalars(t.asInstanceOf[UTF8String], keyArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keys", keyArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.jsonTopScalars($c, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-document k-gram repetition stats — see [[TextOps.repetitionStats]].
  * One compiled kernel call per row; the composed spelling
  * ([[graft.operators.TextAnalysis.repetitionStatsComposed]]: sorted gram
  * array + HOF run-length fold) is kept as its parity twin.
  */
case class RepetitionStatsExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, "k-gram size must be >= 1")
  override def prettyName: String = "repetition_stats"
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_grams", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("top_count", LongType, nullable = false)))
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  override def nullSafeEval(t: Any): Any =
    TextOps.repetitionStats(t.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.repetitionStats($c, $k)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class ArrayPairs(child: Expression) extends UnaryExpression {
  override def prettyName: String = "array_pairs"
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("b", LongType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<long> argument")
    }

  override def nullSafeEval(a: Any): Any =
    TextOps.arrayPairs(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.arrayPairs($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature array over a hashed-shingle array — see
  * [[TextOps.minhashSigs]].
  */
case class MinhashSigArray(child: Expression, numPerm: Int) extends UnaryExpression {
  require(numPerm >= 1, "numPerm must be >= 1")
  override def prettyName: String = "minhash_sig_array"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<long> argument")
    }

  override def nullSafeEval(a: Any): Any =
    TextOps.minhashSigs(a.asInstanceOf[ArrayData], numPerm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // minhashSigs returns null for an empty input array, so route through
    // the nullable-result template (defineCodeGen assumes non-null)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextOps.minhashSigs($c, $numPerm);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHash16(child: Expression) extends UnaryExpression {
  override def prettyName: String = "simhash16"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  override def nullSafeEval(t: Any): Any =
    TextOps.simhash16(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.simhash16($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Bounded edit distance: exact Levenshtein when <= maxDist, else
  * maxDist+1. Replaces the built-in `levenshtein` (which always runs the
  * full unbanded DP) in near-dup filters where any distance above the
  * threshold is discarded anyway.
  */
case class BoundedLevenshtein(left: Expression, right: Expression, maxDist: Int)
    extends BinaryExpression {
  require(maxDist >= 0, "maxDist must be >= 0")
  override def prettyName: String = "bounded_levenshtein"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two string arguments")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    TextOps.boundedLevenshtein(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String], maxDist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.TextOps.boundedLevenshtein($a, $b, $maxDist)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Packed 16-bucket character histogram — see [[TextOps.histSig16]]. */
case class HistSig16(child: Expression) extends UnaryExpression {
  override def prettyName: String = "hist_sig16"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  override def nullSafeEval(t: Any): Any =
    TextOps.histSig16(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.histSig16($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Histogram-signature L1 — the edit-distance lower bound of
  * [[TextOps.histL1]] (`> 2*k` proves distance `> k`).
  */
case class HistL1(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "hist_l1"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two bigint arguments")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    TextOps.histL1(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextOps.histL1($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object TextFunctions {
  import org.apache.spark.sql.GraftShims.{column, expression}
  def bounded_levenshtein(a: Column, b: Column, maxDist: Int): Column =
    column(BoundedLevenshtein(expression(a), expression(b), maxDist))
  def hist_sig16(text: Column): Column = column(HistSig16(expression(text)))
  def hist_l1(a: Column, b: Column): Column =
    column(HistL1(expression(a), expression(b)))
  def shingle_array(text: Column, k: Int): Column = column(ShingleArray(expression(text), k))
  def shingle_array_all(text: Column, k: Int): Column =
    column(ShingleArray(expression(text), k, distinct = false))
  def shingle_hash31_array(text: Column, k: Int): Column =
    column(ShingleHash31Array(expression(text), k))
  def shingle_hash31_all_array(text: Column, k: Int): Column =
    column(ShingleHash31AllArray(expression(text), k))
  def minhash_sig_array(hs: Column, numPerm: Int): Column =
    column(MinhashSigArray(expression(hs), numPerm))
  def array_pairs(ids: Column): Column = column(ArrayPairs(expression(ids)))
  def term_count_array(text: Column): Column = column(TermCountArray(expression(text)))
  def probe_term_stats(text: Column, terms: Seq[String]): Column =
    column(ProbeTermStats(expression(text), terms))
  def vocab_encode(text: Column, vocab: Seq[String], oovId: Long = 0L): Column = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    column(VocabEncode(expression(text), sc.broadcast(vocab.toArray), oovId))
  }
  def simhash16(text: Column): Column = column(SimHash16(expression(text)))
  def profile_tallies(text: Column, stopwords: Seq[String],
                      markers: Seq[(String, Seq[String])]): Column =
    column(ProfileTallies(expression(text), stopwords, markers))
  def token_count(text: Column): Column = column(TokenCount(expression(text)))
  def repetition_stats(text: Column, k: Int): Column =
    column(RepetitionStatsExpr(expression(text), k))
  def json_top_scalars(text: Column, keys: Seq[String]): Column =
    column(JsonTopScalars(expression(text), keys))
  def rolling_hash(text: Column): Column = column(RollingHash(expression(text)))
  def normalize_text(text: Column): Column = column(NormalizeText(expression(text)))
}
