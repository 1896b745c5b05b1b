package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions.{lit, typedLit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row kernels for the hot loops of the LLM-data pipeline
  * (minhash signatures, simhash, fingerprints, cosine), exposed as
  * Catalyst expressions via `StaticInvoke` — a codegen'd direct static
  * call that stays inside WholeStageCodegen, replacing the *interpreted*
  * higher-order-function trees (`transform`/`aggregate`/`zip_with`) that
  * dominated round-1 bench times.
  *
  * Semantics are bit-for-bit identical to the HOF formulations they
  * replace (verified in KernelParitySpec): hashing goes through Spark's
  * own `XxHash64Function` with the same seed-fold order as the
  * `xxhash64(...)` SQL function, and normalization replays
  * `lower(trim(regexp_replace(text, "\\s+", " ")))` exactly.
  */
object GraftKernels {

  // ================= Column-level API (plan side) =================

  // inputTypes are DECLARED on the Column path too (InvokeLike mixes in
  // ImplicitCastInputTypes): without them a bigint passed where the
  // kernel reads UTF8String analyzes cleanly and ClassCastExceptions
  // inside executor tasks, and an array<double> fed to a float-stride
  // kernel reads silent garbage — the same gap the SQL registration
  // below closes with its declared signatures.
  private def invoke(rt: DataType, method: String,
                     inTypes: Seq[DataType], args: Column*): Column =
    GraftBridge.column(StaticInvoke(
      GraftKernels.getClass, rt, method,
      args.map(GraftBridge.expression).toSeq,
      inputTypes = inTypes, propagateNull = true, returnNullable = false))

  private def vecType(floatElems: Boolean): DataType =
    if (floatElems) ArrayType(FloatType) else ArrayType(DoubleType)

  /** MinHash signature of the k-word-shingle set of `text`;
    * array of `numHashes` longs. numHashes is bounded by the seed-head
    * cache (256) — rejected HERE, at plan build on the driver, instead
    * of an ArrayIndexOutOfBounds deep inside executor tasks. */
  def minhashSigCol(text: Column, k: Int, numHashes: Int): Column = {
    require(numHashes >= 1 && numHashes <= 256,
      s"numHashes must be in [1, 256] (seed cache bound), got $numHashes")
    // k <= 0 would make every shingle window empty — every document
    // collapses to the single shingle "" and ALL signatures come out
    // identical, silently: either an all-pairs LSH explosion or zero
    // pairs under the bucket cap, with no error anywhere downstream
    require(k >= 1, s"shingle size k must be >= 1, got $k")
    invoke(ArrayType(LongType, containsNull = false), "minhashSig",
      Seq(StringType, IntegerType, IntegerType), text, lit(k), lit(numHashes))
  }

  /** Distinct k-word shingles of normalized `text`, first-occurrence
    * order (kernel twin of Dedup.shingles). */
  def shinglesCol(text: Column, k: Int): Column = {
    require(k >= 1, s"shingle size k must be >= 1, got $k")
    invoke(ArrayType(StringType, containsNull = false), "shingles",
      Seq(StringType, IntegerType), text, lit(k))
  }

  /** 64-bit SimHash of the word multiset of `text`. */
  def simhashCol(text: Column): Column =
    invoke(LongType, "simhash", Seq(StringType), text)

  /** SimHash with the md5-derived (DuckDB-replayable) word hash. */
  def simhashMd5Col(text: Column): Column =
    invoke(LongType, "simhashMd5", Seq(StringType), text)

  /** Polynomial rolling-hash fingerprint of normalized `text`
    * (acc*31 + codepoint, mod 1e9+7). */
  def fingerprintCol(text: Column): Column =
    invoke(LongType, "fingerprint", Seq(StringType), text)

  /** cosine(a, b); `floatElems` = true when the arrays are array<float>. */
  def cosineCol(a: Column, b: Column, floatElems: Boolean): Column =
    invoke(DoubleType, "cosine",
      Seq(vecType(floatElems), vecType(floatElems), BooleanType),
      a, b, lit(floatElems))

  /** Random-hyperplane sign sketch: bit b of the result = sign of
    * vec · planes[b]. Planes are a flattened numBits×dim literal. */
  def signSketchCol(vec: Column, planesFlat: Array[Double], numBits: Int,
                    dim: Int, floatElems: Boolean): Column = {
    // same plan-build rejection pattern as minhashSigCol: past 64 the
    // kernel's `1L << bit` wraps mod 64 and silently ALIASES sketch bits
    // onto the low word, corrupting every LSH bucket with no error
    require(numBits >= 1 && numBits <= 64,
      s"numBits must be in [1, 64] (one long of sketch bits), got $numBits")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(planesFlat.length == numBits * dim,
      s"planesFlat has ${planesFlat.length} values, expected numBits*dim = ${numBits * dim}")
    invoke(LongType, "signSketch",
      Seq(vecType(floatElems), ArrayType(DoubleType), IntegerType, IntegerType, BooleanType),
      vec, typedLit(planesFlat.toSeq), lit(numBits), lit(dim), lit(floatElems))
  }

  /** Per-BAND sign-sketch chunks: element b = the bandBits-bit LSH
    * bucket of band b, where bit i of band b is the sign of
    * vec · planes[b*bandBits + i]. Unlike signSketchCol the total bit
    * count numBands*bandBits is NOT bounded by 64 — the wide-band path
    * adaptive LSH needs at large corpora (bucket space 2^bandBits must
    * grow with N or every bucket saturates the cap). For
    * numBands*bandBits <= 64 the chunks equal the shiftright windows of
    * signSketchCol over the same planes (parity-tested). */
  def bandChunksCol(vec: Column, planesFlat: Array[Double], numBands: Int,
                    bandBits: Int, dim: Int, floatElems: Boolean): Column = {
    require(numBands >= 1, s"numBands must be >= 1, got $numBands")
    // 63: chunk bits 0..62 stay in a long's sign-free range — the same
    // bound the callers' own [1, 63] gates promise (r13 review)
    require(bandBits >= 1 && bandBits <= 63,
      s"bandBits must be in [1, 63] (chunk fits a long), got $bandBits")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    // Long product: an Int overflow here could wrap to match a small
    // planesFlat.length and bypass the gate (r13 review)
    require(planesFlat.length.toLong == numBands.toLong * bandBits * dim,
      s"planesFlat has ${planesFlat.length} values, expected numBands*bandBits*dim = " +
        s"${numBands.toLong * bandBits * dim}")
    invoke(ArrayType(LongType, containsNull = false), "bandChunks",
      Seq(vecType(floatElems), ArrayType(DoubleType), IntegerType, IntegerType,
        IntegerType, BooleanType),
      vec, typedLit(planesFlat.toSeq), lit(numBands), lit(bandBits), lit(dim), lit(floatElems))
  }

  /** Total Hamming distance between two equal-length long arrays
    * (sketch chunk vectors): Σ popcount(a(i) ^ b(i)). Used by the
    * embed-LSH sketch prefilter — candidate pairs whose sketch Hamming
    * distance exceeds the threshold implied by the requested cosine
    * never fetch vectors or enter the pair-dedup exchange. */
  def hammingBitsCol(a: Column, b: Column): Column =
    invoke(IntegerType, "hammingBits",
      Seq(ArrayType(LongType), ArrayType(LongType)), a, b)

  /** Indices of the `nprobe` nearest centroids (by cosine) for `vec`;
    * centroids are a flattened nCentroids×dim literal (IVF coarse
    * quantizer). */
  def nearestCentroidsCol(vec: Column, centroidsFlat: Array[Double], nCentroids: Int,
                          dim: Int, nprobe: Int, floatElems: Boolean): Column = {
    // same plan-build rejection pattern as signSketchCol: a centroid
    // array from a quantizer trained at a different dim would AIOOBE
    // deep inside executor tasks; nprobe <= 0 would silently probe zero
    // cells (empty ANN results, no error anywhere)
    require(nCentroids >= 1, s"nCentroids must be >= 1, got $nCentroids")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // dim = 0 with an empty flat array satisfies the length check and
    // silently assigns every vector cells [0..nprobe) — the exact
    // silent-collapse class these gates reject
    require(dim >= 1, s"dim must be >= 1, got $dim")
    // Long product — same overflow-bypass hazard as bandChunksCol's gate
    require(centroidsFlat.length.toLong == nCentroids.toLong * dim,
      s"centroidsFlat has ${centroidsFlat.length} values, expected nCentroids*dim = ${nCentroids.toLong * dim}")
    // centroid norms are query constants — computed ONCE here instead of
    // per corpus row (the assignment kernel is the IVF hot path: at
    // nCentroids*dim per row the redundant norm pass roughly doubled it)
    val norms = Array.tabulate(nCentroids) { c =>
      var nc = 0.0; var d = 0
      while (d < dim) { val x = centroidsFlat(c * dim + d); nc += x * x; d += 1 }
      math.sqrt(nc)
    }
    invoke(ArrayType(IntegerType, containsNull = false), "nearestCentroids",
      Seq(vecType(floatElems), ArrayType(DoubleType), ArrayType(DoubleType),
        IntegerType, IntegerType, IntegerType, BooleanType),
      vec, typedLit(centroidsFlat.toSeq), typedLit(norms.toSeq),
      lit(nCentroids), lit(dim), lit(nprobe), lit(floatElems))
  }

  /** Register the kernels as SQL functions so dialect / spark.sql text
    * can call them directly: SIMHASH(text), FINGERPRINT(text),
    * MINHASH_SIG(text, k, numHashes), COSINE_SIM(a, b) on float arrays,
    * SHINGLES(text, k) — and the dialect's function table
    * (VeloExprs.dialectFunctions), each builder under its `velo_` name. */
  def registerSqlFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    // inputTypes are DECLARED (InvokeLike mixes in ImplicitCastInputTypes)
    // so analysis coerces or rejects: without them, e.g. COSINE_SIM over
    // array<double> would read 4-byte floats on an 8-byte UnsafeArrayData
    // stride — silently garbage scores — and a bigint shingle k would
    // ClassCastException mid-job instead of failing at plan time
    def reg(name: String, rt: DataType, method: String,
            inTypes: Seq[DataType]): Unit =
      registry.createOrReplaceTempFunction(name,
        args => StaticInvoke(GraftKernels.getClass, rt, method, args.toSeq,
          inputTypes = inTypes, propagateNull = true, returnNullable = false),
        "scala_udf")
    reg("simhash", LongType, "simhash", Seq(StringType))
    reg("fingerprint", LongType, "fingerprint", Seq(StringType))
    reg("minhash_sig", ArrayType(LongType, containsNull = false), "minhashSig",
      Seq(StringType, IntegerType, IntegerType))
    reg("shingles", ArrayType(StringType, containsNull = false), "shingles",
      Seq(StringType, IntegerType))
    // COSINE_SIM(a, b) over array<float> embeddings (the corpus type);
    // array<double> input is implicitly cast to array<float> at analysis
    registry.createOrReplaceTempFunction("cosine_sim",
      args => StaticInvoke(GraftKernels.getClass, DoubleType, "cosine",
        args.toSeq :+ org.apache.spark.sql.catalyst.expressions.Literal(true),
        inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType), BooleanType),
        propagateNull = true, returnNullable = false),
      "scala_udf")
    // the row's arity gate guards direct velo_ callers too (r17 review:
    // builders read fixed arg positions, so without it SPLIT(s, d, 2)
    // silently DROPPED its third argument and a missing argument threw
    // a raw IndexOutOfBoundsException). Errors name the dialect spelling.
    VeloExprs.dialectFunctions.foreach { f =>
      registry.createOrReplaceTempFunction(f.veloName, args => {
        f.arityError(f.names.head, args.length).foreach(m => throw new IllegalArgumentException(m))
        f.build(args.toSeq)
      }, "scala_udf")
    }
  }

  // ================= JVM kernels (executor side) =================
  // Methods take catalyst-internal types (UTF8String / ArrayData) and are
  // resolved by StaticInvoke against these exact signatures.

  /** Rust `Display<f64>` rendering — the float stringification every
    * reference string-building path uses (accumulator.rs:299,
    * functions.rs:1430,1027,2616 all call `f.to_string()`): shortest
    * round-trip digits in positional notation (1e21 renders as
    * "1000000000000000000000", never scientific), integral values with
    * no ".0" ("100"), "NaN"/"inf"/"-inf", and "-0" keeps its sign.
    * Java's Double.toString differs on every one of those points. */
  def rustDouble(d: Double): UTF8String = {
    val s =
      if (java.lang.Double.isNaN(d)) "NaN"
      else if (d == Double.PositiveInfinity) "inf"
      else if (d == Double.NegativeInfinity) "-inf"
      else if (d == 0.0) { if (1.0 / d < 0.0) "-0" else "0" }
      else if (d == Math.rint(d) && Math.abs(d) < 9.007199254740992e15)
        java.lang.Long.toString(d.toLong) // fast integral path, exact below 2^53
      else
        // BigDecimal re-renders the shortest digits positionally and
        // drops any trailing ".0"
        new java.math.BigDecimal(shortestDigits(d))
          .stripTrailingZeros().toPlainString
    UTF8String.fromString(s)
  }

  /** Shortest round-tripping decimal form of a non-zero finite double.
    * JDK 17's Double.toString is round-trip but NOT always shortest
    * (JDK-4511638, fixed only in JDK 19's Ryu port): toString(1e23) is
    * "9.999999999999999E22", 17 significant digits where 1 suffices —
    * and Rust's f64 Display (the parity contract here) prints the
    * SHORTEST digits, "1e23" → "100000000000000000000000". Walk DOWN
    * from toString's digit count while the shorter correctly-rounded
    * form still parses back to the same double; data-typical doubles
    * fail the first probe immediately, so the common cost is one
    * format+parse on top of toString (r17 review). */
  private def shortestDigits(d: Double): String = {
    val js = java.lang.Double.toString(d)
    // significant digits of the toString mantissa (digits before 'E',
    // ignoring sign/point; toString never emits leading zeros)
    var sig = 0
    var k = 0
    var done = false
    while (k < js.length && !done) {
      val c = js.charAt(k)
      if (c == 'E' || c == 'e') done = true
      else { if (c >= '0' && c <= '9') sig += 1; k += 1 }
    }
    var best = js
    var p = sig - 1
    var shrinking = p >= 1
    while (shrinking) {
      val cand = String.format(java.util.Locale.ROOT, "%." + (p - 1) + "e",
        java.lang.Double.valueOf(d))
      if (java.lang.Double.parseDouble(cand) == d) { best = cand; p -= 1; shrinking = p >= 1 }
      else shrinking = false
    }
    best
  }

  /** REGEXP_REPLACE with the reference's flag semantics
    * (functions.rs:784-868): by default only the FIRST match is
    * replaced (Rust `Regex::replace`); flag 'g' replaces all, flag 'i'
    * prepends `(?i)`. Spark's built-in replaces every match and has no
    * flags argument — routing the dialect here keeps the
    * first-match-only default users of the reference depend on (the
    * SPLIT-returns-first-part quirk class).
    *
    * Rust-parity details beyond the flags:
    *  - `(?U)` makes Java's `\d`/`\w`/`\s` and `(?i)` case-folding
    *    Unicode, matching the Rust regex crate's default (the same
    *    reason velo_trim prepends it);
    *  - `(?P<name>` — Rust's classic named-group spelling — translates
    *    to Java's `(?<name>`;
    *  - replacement strings follow Rust expansion: a reference to a
    *    group the pattern does not define expands to the EMPTY string
    *    (Java would throw per row), `$$` is a literal dollar, a lone or
    *    trailing `$` is literal, and backslashes are literal.
    *
    * Patterns compile once per (pattern, i-flag) and cache, mirroring
    * the reference's get_cached_regex; at the bound a new pattern
    * evicts one resident entry and still caches (the former
    * compile-uncached fallback made every pattern past #1024 a
    * per-ROW Pattern.compile forever; evicted hot patterns just
    * recompile once on next use — r13 advice). */
  private val veloRegexCache = new java.util.concurrent.ConcurrentHashMap[
    String, (java.util.regex.Pattern, Map[String, String])]()

  private[graft] def regexCacheSize: Int = veloRegexCache.size

  /** The ONE spelling of the reference's Unicode trim patterns (Rust
    * str::trim via (?U) \s), used by the TRIM family's builder
    * (VeloExprs.trim) that both the dialect and VeloFunctions run. */
  private[functions] val TrimBothPat = "(?U)^\\s+|(?U)\\s+$"
  private[functions] val TrimLeftPat = "(?U)^\\s+"
  private[functions] val TrimRightPat = "(?U)\\s+$"

  private val NamedGroupSyntax = java.util.regex.Pattern.compile(
    """\(\?P?<([A-Za-z][A-Za-z0-9_]*)>""")

  private def compileVelo(pat: String): (java.util.regex.Pattern, Map[String, String]) = {
    // rewrite (?P< → (?< and collect group names ONLY at real group
    // opens — a '(' that is backslash-escaped or inside a character
    // class is literal text. The former blind String.replace rewrote
    // literal occurrences (`\(?P<x>y` lost its 'P' and matched
    // different text) and the name scan recorded groups the compiled
    // pattern does not have, so the first matching row threw
    // IllegalArgumentException from m.group(name) (r16 review).
    // Every named group compiles under a SYNTHETIC Java name g1, g2, …
    // (returned map: caller's name → java name): Rust group names
    // admit '_' ([A-Za-z][A-Za-z0-9_]*) but Java's are letter+alnum
    // only, so compiling `(?<word_id>` verbatim threw
    // PatternSyntaxException on every row of a valid Rust pattern
    // (r17 review). Renaming is safe because the Rust regex crate has
    // no in-pattern backreferences (`\k<name>` cannot occur), and
    // renaming ALL named groups keeps the synthetic names collision-
    // free against user names. Group NUMBERS are unchanged.
    val sb = new java.lang.StringBuilder(pat.length)
    val b = Map.newBuilder[String, String]
    var named = 0
    var i = 0
    var inClass = false
    while (i < pat.length) {
      val c = pat.charAt(i)
      if (c == '\\' && i + 1 < pat.length) { sb.append(c).append(pat.charAt(i + 1)); i += 2 }
      else if (inClass) { if (c == ']') inClass = false; sb.append(c); i += 1 }
      else if (c == '[') { inClass = true; sb.append(c); i += 1 }
      else if (c == '(') {
        val m = NamedGroupSyntax.matcher(pat).region(i, pat.length)
        if (m.lookingAt()) {
          named += 1
          val java = "g" + named
          b += m.group(1) -> java
          sb.append("(?<").append(java).append('>')
          i = m.end()
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    (java.util.regex.Pattern.compile(sb.toString), b.result())
  }

  /** The ONE bounded cache-or-compute policy, shared by the pattern
    * and replacement-token caches (r17 review: the evict block lived
    * as two line-for-line copies — the exact drift class this module's
    * comments keep warning about). Evict-one-on-insert at the cap:
    * ConcurrentHashMap iteration order is effectively arbitrary, so
    * this is a cheap random eviction; a racing thread evicting
    * concurrently only costs a transient dip below the cap, never
    * unbounded growth. */
  private def getOrCompute[K, V](cache: java.util.concurrent.ConcurrentHashMap[K, V],
                                 key: K)(compute: K => V): V = {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      if (cache.size >= 1024) {
        val it = cache.keySet.iterator()
        if (it.hasNext) cache.remove(it.next())
      }
      cache.computeIfAbsent(key, k => compute(k))
    }
  }

  /** Cache-or-compile for the FLAGGED pattern string: one lookup path
    * for REGEXP_REPLACE and REGEXP. */
  private def cachedVelo(pat: String): (java.util.regex.Pattern, Map[String, String]) =
    getOrCompute(veloRegexCache, pat)(compileVelo)

  /** REGEXP(string, pattern) — reference regexp_function
    * (functions.rs:750): Rust regex `is_match`, i.e. find-anywhere,
    * with Unicode character classes (Rust's \w/\s are Unicode by
    * default where Java's are ASCII — the exact divergence the (?U)
    * prefix exists to close for REGEXP_REPLACE). */
  def veloRegexpLike(s: UTF8String, p: UTF8String): Boolean =
    cachedVelo("(?U)" + p.toString)._1.matcher(s.toString).find()

  /** Rust replacement-string semantics, parsed ONCE per (pattern,
    * replacement) into tokens and expanded manually per match — NOT
    * translated into Java's replacement syntax. The former translation
    * had a structural hole: `${1}0` (Rust: group 1 + literal "0") was
    * emitted as `$10`, which Java's greedy group-number parse reads as
    * group 10 whenever the pattern has that many groups (r13 review).
    * Manual expansion also makes the rest of the contract direct:
    * a reference to a group the pattern does not define — or one that
    * did not participate in the match — expands to the EMPTY string,
    * `$$` is a literal dollar, a lone/trailing `$` is literal, and
    * backslashes are literal. */
  private sealed trait ReplTok
  private final case class LitTok(s: String) extends ReplTok
  private final case class NumTok(n: Int) extends ReplTok
  private final case class NameTok(n: String) extends ReplTok

  private def parseReplacement(repl: String, groupCount: Int,
                               names: Set[String]): Array[ReplTok] = {
    val toks = scala.collection.mutable.ArrayBuffer.empty[ReplTok]
    val lit = new java.lang.StringBuilder
    def flush(): Unit =
      if (lit.length > 0) { toks += LitTok(lit.toString); lit.setLength(0) }
    var i = 0
    def isWord(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    while (i < repl.length) {
      val c = repl.charAt(i)
      if (c != '$') { lit.append(c); i += 1 }
      else if (i + 1 >= repl.length) { lit.append('$'); i += 1 }
      else if (repl.charAt(i + 1) == '$') { lit.append('$'); i += 2 }
      else {
        val braced = repl.charAt(i + 1) == '{'
        val start = if (braced) i + 2 else i + 1
        var j = start
        while (j < repl.length && isWord(repl.charAt(j))) j += 1
        val word = repl.substring(start, j)
        val closed = !braced || (j < repl.length && repl.charAt(j) == '}')
        if (word.isEmpty || !closed) { lit.append('$'); i += 1 }
        else {
          flush()
          if (word.forall(_.isDigit)) {
            if (word.length <= 9 && word.toInt <= groupCount) toks += NumTok(word.toInt)
            // else: missing numbered group — Rust expands to ""
          } else if (names.contains(word)) toks += NameTok(word)
          // else: missing named group — Rust expands to ""
          i = if (braced) j + 1 else j
        }
      }
    }
    flush()
    toks.toArray
  }

  // parsed replacements cache: same bound + evict-one policy as the
  // pattern cache; keyed on (flagged pattern, replacement) since group
  // existence is resolved at parse time
  private val veloReplCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Array[ReplTok]]()

  def veloRegexpReplace(s: UTF8String, p: UTF8String, r: UTF8String,
                        flags: UTF8String): UTF8String = {
    val f = flags.toString
    val pat = (if (f.indexOf('i') >= 0) "(?U)(?i)" else "(?U)") + p.toString
    val (compiled, nameMap) = cachedVelo(pat)
    val input = s.toString
    val m = compiled.matcher(input)
    // no-match fast path (r17 review): for the common mostly-non-
    // matching corpus this skips the replacement-token cache traffic
    // (parsing and caching a token array that would never be used) AND
    // the full copy of the input through a fresh builder — the
    // unchanged input is returned as-is.
    if (!m.find()) return s
    val toks = getOrCompute(veloReplCache, (pat, r.toString))(
      k => parseReplacement(k._2, m.groupCount(), nameMap.keySet))
    // manual find/append loop (see parseReplacement): Matcher.find()
    // self-advances past empty matches, so zero-width patterns behave
    // exactly as replaceAll's internal loop does
    val global = f.indexOf('g') >= 0
    val sb = new java.lang.StringBuilder(input.length + 16)
    var last = 0
    var found = true
    while (found) {
      sb.append(input, last, m.start())
      var t = 0
      while (t < toks.length) {
        toks(t) match {
          case LitTok(l)  => sb.append(l)
          case NumTok(n)  => val g = m.group(n); if (g != null) sb.append(g)
          // through the synthetic-name map: the compiled pattern's
          // groups carry java-legal names, the tokens the caller's
          case NameTok(n) => val g = m.group(nameMap(n)); if (g != null) sb.append(g)
        }
        t += 1
      }
      last = m.end()
      found = global && m.find()
    }
    sb.append(input, last, input.length)
    UTF8String.fromString(sb.toString)
  }

  private val MOD = 1000000007L

  // compiled ONCE: String.replaceAll recompiles its Pattern per call,
  // which these per-row kernels would pay on every record (the
  // interpreted regexp_replace they replaced caches its pattern)
  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** Replays lower(trim(regexp_replace(text, "\\s+", " "))) — the ONE
    * normalization all text kernels share (fingerprint, shingles,
    * simhash); a rule change here cannot desync the kernels from each
    * other. */
  private def normText(text: UTF8String): String = {
    val replaced = WS.matcher(text.toString).replaceAll(" ")
    // lowering goes through the SAME entry point SQL lower() uses
    // (CollationSupport.Lower, UTF8_BINARY, ICU mappings — Spark 4's
    // default): UTF8String.toLowerCase is the JVM default-locale
    // mapping, which diverges from lower() on post-Unicode-8 casings
    // (e.g. Vithkuqi) and is -Duser.language-sensitive — the kernels
    // would silently desync from the HOF oracles and from exact-dedup's
    // contentHash normalization on non-ASCII text. (Deployments that
    // set spark.sql.icu.caseMappings.enabled=false trade this parity
    // for legacy JVM casing in lower() itself.)
    org.apache.spark.sql.catalyst.util.CollationSupport.Lower
      .exec(UTF8String.fromString(replaced).trim(), 0, true).toString
  }

  private def normWords(text: UTF8String): Array[String] =
    normText(text).split(" ", -1)

  /** Distinct k-word shingles in first-occurrence order (when n < k: one
    * shingle of all words) — the ONE shingle rule, shared by `shingles`
    * and `minhashSig` so the two kernels cannot drift. */
  private def distinctShingles(words: Array[String], k: Int): Array[String] = {
    val n = words.length
    val nShingles = math.max(n - k, 0) + 1
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nShingles) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** seed-fold of Spark's xxhash64(lit(seedIdx), str): h = XXH64(int
    * seedIdx, seed=42); h = XXH64(str, seed=h). First stage cached per
    * seed index (it is data-independent). */
  private val seedHeads: Array[Long] =
    Array.tabulate(256)(i => XxHash64Function.hash(i, IntegerType, 42L))

  def shingles(text: UTF8String, k: Int): ArrayData = {
    // clear argument error for the SQL SHINGLES path, which reaches the
    // kernel without the Column builder's gate
    require(k >= 1, s"shingle size k must be >= 1, got $k")
    new GenericArrayData(
      toUtf8(distinctShingles(normWords(text), k)).asInstanceOf[Array[AnyRef]])
  }

  private def toUtf8(a: Array[String]): Array[UTF8String] = {
    val out = new Array[UTF8String](a.length)
    var m = 0
    while (m < a.length) { out(m) = UTF8String.fromString(a(m)); m += 1 }
    out
  }

  def minhashSig(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    // clear argument errors instead of AIOOBE / silent signature
    // collapse for the SQL MINHASH_SIG path, which reaches this kernel
    // without the Column builder's gate
    require(numHashes >= 1 && numHashes <= seedHeads.length,
      s"numHashes must be in [1, ${seedHeads.length}], got $numHashes")
    require(k >= 1, s"shingle size k must be >= 1, got $k")
    val shingleStrs = toUtf8(distinctShingles(normWords(text), k))
    val sig = new Array[Long](numHashes)
    var h = 0
    while (h < numHashes) {
      val head = seedHeads(h)
      var mn = Long.MaxValue
      var s = 0
      while (s < shingleStrs.length) {
        val v = XxHash64Function.hash(shingleStrs(s), StringType, head)
        if (v < mn) mn = v
        s += 1
      }
      sig(h) = mn
      h += 1
    }
    new GenericArrayData(sig)
  }

  /** The ONE voting/bit-assembly loop for both simhash variants — only
    * the per-word hash differs (a fix to the vote or tie-break rule
    * applied to one copy would silently desync the replayable and
    * default fingerprints). The flag is a per-word branch, not a
    * megamorphic call, so the xxhash hot path stays JIT-friendly. */
  private def simhashOf(words: Array[String], md5Hash: Boolean): Long = {
    val votes = new Array[Int](64)
    var w = 0
    while (w < words.length) {
      val h =
        if (md5Hash) md5Lower64(words(w))
        else XxHash64Function.hash(UTF8String.fromString(words(w)), StringType, 42L)
      var i = 0
      while (i < 64) {
        if (((h >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      w += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  def simhash(text: UTF8String): Long = simhashOf(normWords(text), md5Hash = false)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 64-bit word hash = the LOWER 64 bits of md5 (little-endian long of
    * digest bytes 8..15) — bit-identical to DuckDB's
    * `md5_number_lower(word)`, which is what makes `simhashMd5`
    * replayable by the SQL oracle. (Spark's own xxhash64 is seeded and
    * engine-private; md5 is the engine-portable 64 bits.) */
  private def md5Lower64(word: String): Long = {
    val d = md5Local.get().digest(word.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var b = 15
    while (b >= 8) { h = (h << 8) | (d(b) & 0xFFL); b -= 1 }
    h
  }

  /** SimHash with the engine-portable md5 word hash — same
    * normalization, voting, and bit layout as `simhash`, only the word
    * hash differs. The replayable variant exists so the pair pipeline
    * can be oracled end-to-end by DuckDB; `simhash` (xxhash64, no md5
    * rounds) stays the performance default. */
  def simhashMd5(text: UTF8String): Long = simhashOf(normWords(text), md5Hash = true)

  def fingerprint(text: UTF8String): Long = {
    val normed = normText(text)
    var acc = 0L
    var i = 0
    val len = normed.length
    while (i < len) {
      val cp = normed.codePointAt(i)
      acc = (acc * 31L + cp) % MOD
      i += Character.charCount(cp)
    }
    acc
  }

  private def elem(a: ArrayData, i: Int, floatElems: Boolean): Double =
    if (floatElems) a.getFloat(i).toDouble else a.getDouble(i)

  /** Cosine with DEFINED edges for the bad records a crawl-scale corpus
    * contains: mismatched lengths (truncated embedding) or a zero-norm /
    * empty vector return 0.0 — NOT a prefix-cosine (which can read as a
    * near-perfect false match) and NOT NaN (which Spark SQL ranks ABOVE
    * every real score, so one corrupt row would become the global #1
    * neighbor and pass every `cos >= minCos` near-dup filter). 0.0 never
    * crosses a near-dup threshold and ranks below any genuine match. */
  def cosine(a: ArrayData, b: ArrayData, floatElems: Boolean): Double = {
    val n = a.numElements()
    if (n == 0 || n != b.numElements()) return 0.0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // a NULL element is a corrupt embedding, same class as truncated/
      // zero-norm: unchecked, UnsafeArrayData reads the null slot as 0.0
      // (a plausible near-match) and a reused vectorized column vector
      // reads STALE bytes — a nondeterministic score. Same defined edge.
      if (a.isNullAt(i) || b.isNullAt(i)) return 0.0
      val x = elem(a, i, floatElems)
      val y = elem(b, i, floatElems)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else {
      // a NaN/Inf ELEMENT slips past the zero-norm guard (na becomes NaN,
      // NaN == 0.0 is false) — and a NaN cosine passes `cos >= minCos`
      // under Spark's NaN-is-largest ordering, making the corrupt row a
      // "near-duplicate" of its whole bucket. Pin non-finite to the same
      // defined edge as the other corrupt shapes.
      val res = dot / (math.sqrt(na) * math.sqrt(nb))
      if (java.lang.Double.isFinite(res)) res else 0.0
    }
  }

  /** Copy the vector's first min(len, dim) elements; a NULL element
    * marks the row corrupt and yields an EMPTY copy, so both consumers
    * degrade exactly like their zero-norm/empty edge instead of reading
    * the null slot as 0.0 (or stale column-vector bytes). */
  private def copyVec(vec: ArrayData, dim: Int, floatElems: Boolean): Array[Double] = {
    val n = math.min(vec.numElements(), dim)
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return new Array[Double](0)
      v(i) = elem(vec, i, floatElems)
      i += 1
    }
    v
  }

  def nearestCentroids(vec: ArrayData, centroidsFlat: ArrayData, centroidNorms: ArrayData,
                       nCentroids: Int, dim: Int, nprobe: Int, floatElems: Boolean): ArrayData = {
    val v = copyVec(vec, dim, floatElems)
    val n = v.length
    var nv = 0.0
    var i = 0
    while (i < n) { nv += v(i) * v(i); i += 1 }
    nv = math.sqrt(nv)
    val scores = new Array[Double](nCentroids)
    var c = 0
    while (c < nCentroids) {
      var dot = 0.0
      val base = c * dim
      var d = 0
      while (d < n) {
        dot += v(d) * centroidsFlat.getDouble(base + d)
        d += 1
      }
      // centroid norms are precomputed on the driver over the FULL dim
      // (nearestCentroidsCol), so a truncated input row still divides by
      // the same norm the driver-side twin (Similarity.centroidCosines)
      // uses — identical cell assignment for a shared quantizer, and no
      // per-row recomputation of query-constant norms on the hot path.
      // Zero-norm/empty input or degenerate centroid → NaN score; pin to
      // -inf so the selection below stays well-defined (NaN compares
      // false against everything, which would leave best = -1 and throw)
      val s = dot / (nv * centroidNorms.getDouble(c))
      scores(c) = if (java.lang.Double.isNaN(s)) Double.NegativeInfinity else s
      c += 1
    }
    new GenericArrayData(selectTopCells(scores, nprobe))
  }

  /** Greedy top-`n` indices by DESCENDING score, ties to the LOWEST
    * index — THE cell-selection rule, shared by the nearestCentroids
    * kernel, ivfPqTopK's index build, and its query-side probe pick.
    * Three independent copies previously encoded the same tie order,
    * kept in sync only by comments — a change to one would silently
    * desync ivfPqTopK's cells from ivfTopK's for a shared quantizer
    * (r14 review). NaN scores read as -inf INSIDE the helper (a NaN
    * bestScore would poison every later comparison and hand the pick to
    * whichever NaN came first), so callers may pass raw cosine scores;
    * an all-NaN row selects 0..n-1 deterministically. */
  def selectTopCells(scores: Array[Double], n: Int): Array[Int] = {
    val k = math.min(n, scores.length)
    val out = new Array[Int](k)
    val taken = new Array[Boolean](scores.length)
    var j = 0
    while (j < k) {
      var best = -1; var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < scores.length) {
        val s0 = scores(c)
        val s = if (java.lang.Double.isNaN(s0)) Double.NegativeInfinity else s0
        if (!taken(c) && (best < 0 || s > bestScore)) { best = c; bestScore = s }
        c += 1
      }
      taken(best) = true; out(j) = best
      j += 1
    }
    out
  }

  def joinDelim(s: UTF8String): UTF8String = {
    // reference functions.rs:1015: a delimiter that is not a String —
    // including NULL — is an execution error, never a silent skip
    if (s == null) throw new IllegalArgumentException(
      "JOIN delimiter must be a string (got NULL)")
    s
  }

  def hammingBits(a: ArrayData, b: ArrayData): Int = {
    // fail-loud, matching the module's convention (cf. the uint32 and
    // bandChunksCol gates): a silent min-length compare would UNDERCOUNT
    // distance for mismatched chunk arrays (r14 advice)
    if (a.numElements() != b.numElements()) throw new IllegalArgumentException(
      s"hammingBits: length mismatch (${a.numElements()} vs ${b.numElements()})")
    val n = a.numElements()
    var out = 0
    var i = 0
    while (i < n) {
      // fail-loud on null chunk slots too: getLong on a null element
      // reads 0 (or stale column-vector bytes) — a silently
      // undercounted, potentially nondeterministic distance that lets
      // a corrupt pair through the embed-LSH prefilter, the exact
      // class cosine()/copyVec() already gate (r16 review)
      if (a.isNullAt(i) || b.isNullAt(i)) throw new IllegalArgumentException(
        s"hammingBits: null chunk element at index $i")
      out += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    out
  }

  def bandChunks(vec: ArrayData, planesFlat: ArrayData, numBands: Int,
                 bandBits: Int, dim: Int, floatElems: Boolean): ArrayData = {
    val v = copyVec(vec, dim, floatElems)
    val n = v.length
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var chunk = 0L
      var i = 0
      while (i < bandBits) {
        var proj = 0.0
        val base = (b * bandBits + i) * dim
        var d = 0
        while (d < n) { proj += v(d) * planesFlat.getDouble(base + d); d += 1 }
        if (proj > 0) chunk |= (1L << i)
        i += 1
      }
      out(b) = chunk
      b += 1
    }
    new GenericArrayData(out)
  }

  def signSketch(vec: ArrayData, planesFlat: ArrayData, numBits: Int,
                 dim: Int, floatElems: Boolean): Long = {
    val v = copyVec(vec, dim, floatElems)
    val n = v.length
    var out = 0L
    var b = 0
    while (b < numBits) {
      var proj = 0.0
      val base = b * dim
      var d = 0
      while (d < n) { proj += v(d) * planesFlat.getDouble(base + d); d += 1 }
      if (proj > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
