package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot loops of the training-data
  * pipeline (similarity search, MinHash/SimHash dedup).
  *
  * Why custom expressions instead of `functions.aggregate`/`zip_with`
  * compositions: Spark's higher-order functions do not participate in
  * whole-stage codegen — each element access is an interpreted lambda call
  * with boxing. For per-row numeric kernels (a dot product over a 64-float
  * embedding, a k=32 MinHash fold over ~50 shingles) that is 100-1000×
  * slower than a tight loop. Measured on this repo's bench: the HOF cosine
  * made `sim_near_dup` take 542 s at sf0.1; the codegen'd [[DotProduct]]
  * below brings the identical result to under a second.
  *
  * All expressions here are deterministic, null-safe, and shaped per the
  * builder guidance: "a native Catalyst `Expression` (with `doGenCode`)
  * beats a Scala UDF beats anything else".
  */
object NativeExpressions {

  /** Sequential left-fold dot product of two float arrays in double
    * precision — bit-identical to
    * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)), 0.0, _ + _)`
    * and to DuckDB's `list_reduce` fold, because IEEE-754 addition is
    * performed in the same order. Participates in whole-stage codegen.
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null // zip_with pads with null → null sum
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |final int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |  }
           |  if (!${ev.isNull}) { ${ev.value} = $acc; }
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** MinHash signature of a shingle set: k permutation-style hashes
    * h_j(x) = ((2j+1)·x + b_j) mod p over murmur3(shingle) values,
    * signature[j] = min over shingles. One pass over the shingles — the
    * k-way inner loop is plain long arithmetic. Duplicate shingles cannot
    * change a min, so callers need no `array_distinct`.
    */
  case class MinHashSignature(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {

    private val P = 2147483647L // 2^31 - 1 (Mersenne prime)
    @transient private lazy val bCoef: Array[Long] =
      Array.tabulate(k)(j => java.lang.Math.floorMod(0x9E3779B9L + j.toLong * 0x85EBCA6BL, P))

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = s"graft_minhash($k)"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val sig = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i)
          val h = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42)
          val x = java.lang.Math.floorMod(h.toLong, P)
          var j = 0
          while (j < k) {
            val hj = ((2L * j + 1L) * x + bCoef(j)) % P
            if (hj < sig(j)) sig(j) = hj
            j += 1
          }
        }
        i += 1
      }
      new GenericArrayData(sig)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 64-bit SimHash of a token array: per bit, each token's xxhash64 votes
    * +1/-1; bit is set when the vote sum is positive. One pass over tokens.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_simhash"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val votes = new Array[Int](64)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i)
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 64-bit SimHash over MD5 token digests — the cross-engine-deterministic
    * sibling of [[SimHash64]]. Each token's bit pattern is the first 8
    * bytes of `md5(token)` read big-endian (bit i of the pattern = bit i
    * of that 64-bit integer), votes and sign rule identical to
    * [[SimHash64]] (sum > 0 ⟹ bit set). MD5 is chosen NOT for speed or
    * security but because every SQL engine exposes it with an identical
    * definition, so a DuckDB oracle can recompute the signature from
    * `md5(token)` hex chars and brute-force-verify the Hamming pair set —
    * something no xxhash64/murmur3-based signature permits. The hash costs
    * ~2-3× xxh64 per token; callers who don't need cross-engine
    * reproducibility keep [[SimHash64]].
    */
  case class Md5SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_simhash_md5"

    override def nullSafeEval(input: Any): Any = {
      val md = Md5SimHash64.digests.get()
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val votes = new Array[Int](64)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          md.reset()
          val d = md.digest(arr.getUTF8String(i).getBytes)
          var h = 0L
          var k = 0
          while (k < 8) { h = (h << 8) | (d(k).toLong & 0xFFL); k += 1 }
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object Md5SimHash64 {
    // MessageDigest is stateful and not thread-safe; expression instances
    // can be shared across local-mode task threads, so the instance is
    // per-thread, reset per token.
    private val digests = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  }

  /** Word n-gram shingles of a text column: whitespace-split tokens, then
    * each run of n consecutive tokens joined with a single space. Output
    * is identical to
    * `transform(sequence(1, size(w)-(n-1)), i => concat_ws(" ", slice(w, i, n)))`
    * over `w = split(text, "\\s+")` — but that HOF form re-evaluates the
    * regex split once PER SHINGLE when interpreted (~1 ms/shingle measured);
    * this expression splits once per row.
    */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {

    @transient private lazy val ws: UTF8String = UTF8String.fromString("\\s+")
    @transient private lazy val space: UTF8String = UTF8String.fromString(" ")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = s"graft_shingles($n)"

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[UTF8String].split(ws, -1)
      val m = toks.length - (n - 1)
      if (m <= 0) return new GenericArrayData(new Array[Any](0))
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        out(i) =
          if (n == 1) toks(i)
          else UTF8String.concatWs(space, java.util.Arrays.copyOfRange(toks, i, i + n): _*)
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Polynomial rolling-hash fingerprint of a string:
    * h = fold(h·31 + codepoint) mod 1e9+7, seeded with 7 — bit-identical
    * to `aggregate(transform(split(text, ''), ch => ascii(ch)), 7L, ...)`
    * and to DuckDB's `list_reduce` over `string_split(text, '')`:
    * split-on-empty yields one element per code point with NO trailing
    * empty string; the empty string splits to `[""]` whose `ascii` is 0,
    * i.e. one fold step with code 0. The HOF form runs interpreted with
    * per-character boxing (~3.6 s for 5000 docs at sf0.1); this is one
    * tight loop per row.
    */
  case class FingerprintHash(child: Expression)
      extends UnaryExpression with CodegenFallback {

    private val P = 1000000007L

    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_fingerprint"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      var h = 7L
      if (s.isEmpty) {
        h = (h * 31L) % P // split('','') = [""], ascii('') = 0: one 0-step
      } else {
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          h = (h * 31L + cp) % P
          i += Character.charCount(cp)
        }
      }
      h
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** All capture groups of ONE unanchored regex search, as an array —
    * element i is group i+1, `""` for a matched-but-null optional group
    * (mirroring `regexp_extract`'s empty-string convention), and NULL for
    * a non-matching input. Replaces N same-pattern `regexp_extract` calls
    * (each a full regex search per row) with a single search; the caller
    * extracts array elements, which are free.
    */
  case class RegexpExtractGroups(child: Expression, pattern: String)
      extends UnaryExpression {

    @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)
    // ThreadLocal, not a bare field: interpreted eval instances are
    // per-task after plan deserialization, but nothing in the contract
    // FORBIDS cross-thread sharing (the Md5SimHash64 digest takes the
    // same precaution) — a shared Matcher reset() mid-scan by two threads
    // corrupts match spans. Codegen holds per-instance mutable state and
    // is unaffected.
    @transient private lazy val reusedMatcherTL =
      java.lang.ThreadLocal.withInitial[java.util.regex.Matcher](() => compiled.matcher(""))
    private def reusedMatcher: java.util.regex.Matcher = reusedMatcherTL.get()

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_regexp_groups"

    override def nullSafeEval(input: Any): Any = {
      val m = reusedMatcher.reset(input.asInstanceOf[UTF8String].toString)
      if (!m.find()) null
      else {
        val n = m.groupCount()
        val out = new Array[Any](n)
        var i = 1
        while (i <= n) {
          val g = m.group(i)
          out(i - 1) = UTF8String.fromString(if (g == null) "" else g)
          i += 1
        }
        new GenericArrayData(out)
      }
    }

    // Codegen'd (was CodegenFallback): the parser's line grammar runs this
    // on every input row, and the fallback's per-row InternalRow boxing +
    // interpreted dispatch showed up in Probe's profiler.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val patRef = ctx.addReferenceObj("graftRegPattern", compiled,
        classOf[java.util.regex.Pattern].getName)
      val m = ctx.addMutableState("java.util.regex.Matcher", "graftRegMatcher",
        v => s"""$v = $patRef.matcher("");""")
      val arr = ctx.freshName("arr")
      val g = ctx.freshName("g")
      val v = ctx.freshName("v")
      val n = ctx.freshName("n")
      nullSafeCodeGen(ctx, ev, s => {
        s"""
           |$m.reset($s.toString());
           |if (!$m.find()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $m.groupCount();
           |  Object[] $arr = new Object[$n];
           |  for (int $g = 1; $g <= $n; $g++) {
           |    java.lang.String $v = $m.group($g);
           |    $arr[$g - 1] = org.apache.spark.unsafe.types.UTF8String.fromString(
           |      $v == null ? "" : $v);
           |  }
           |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
           |}
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** First-match extraction for MANY independent patterns in ONE kernel.
    * Each pattern is searched independently from position 0 — exactly one
    * `regexp_extract`'s semantics per pattern (deliberately NOT a combined
    * alternation: fields like `user=` must still match inside `ruser=...`
    * the way an independent search does) — but the row's string is
    * converted ONCE and all matchers are reused across rows. The output is
    * a flat array in which pattern i's capture groups occupy slots
    * [offset(i), offset(i)+groupCount(i)): a non-matching pattern leaves
    * NULL in its slots, a matched-but-unparticipating group (the unused arm
    * of an alternation) is NULL, and a matched empty capture is "" — so
    * callers can distinguish key-absent from key-present-but-empty without
    * a separate contains() probe. Replaces the SSH parser's 13 independent
    * regexp searches (13 UTF8String→String conversions + 13 expression
    * evaluations per row) with one fused, codegen'd pass.
    */
  case class MultiRegexpFirstMatch(child: Expression, patterns: Seq[String])
      extends UnaryExpression {
    require(patterns.nonEmpty, "at least one pattern")

    @transient private lazy val compiled: Array[java.util.regex.Pattern] =
      patterns.map(java.util.regex.Pattern.compile).toArray
    // ThreadLocal for the same reason as reusedMatcherTL above
    @transient private lazy val matchersTL =
      java.lang.ThreadLocal.withInitial[Array[java.util.regex.Matcher]](() =>
        compiled.map(_.matcher("")))
    private def matchers: Array[java.util.regex.Matcher] = matchersTL.get()
    @transient private lazy val groupCounts: Array[Int] =
      compiled.map(_.matcher("").groupCount())
    @transient private lazy val offsets: Array[Int] =
      multiRegexpSlotOffsets(patterns).toArray
    @transient private lazy val totalSlots: Int = offsets(patterns.length)

    override def dataType: DataType = ArrayType(StringType, containsNull = true)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = s"graft_multi_regexp(${patterns.length})"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val out = new Array[Any](totalSlots)
      var i = 0
      while (i < matchers.length) {
        val m = matchers(i).reset(s)
        if (m.find()) {
          var g = 1
          while (g <= groupCounts(i)) {
            val v = m.group(g)
            if (v != null) out(offsets(i) + g - 1) = UTF8String.fromString(v)
            g += 1
          }
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    // Whole-stage codegen: the parser is a map-only hot path and a
    // CodegenFallback here would break the surrounding span.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val patRef = ctx.addReferenceObj("graftMrfPatterns", compiled,
        "java.util.regex.Pattern[]")
      val gcRef = ctx.addReferenceObj("graftMrfGroupCounts", groupCounts, "int[]")
      val offRef = ctx.addReferenceObj("graftMrfOffsets", offsets, "int[]")
      val ms = ctx.addMutableState("java.util.regex.Matcher[]", "graftMrfMatchers",
        v => s"""$v = new java.util.regex.Matcher[${patterns.length}];
                 |for (int i = 0; i < ${patterns.length}; i++) $v[i] = $patRef[i].matcher("");
               """.stripMargin)
      nullSafeCodeGen(ctx, ev, s => {
        val str = ctx.freshName("str")
        val arr = ctx.freshName("arr")
        val i = ctx.freshName("i")
        val g = ctx.freshName("g")
        val v = ctx.freshName("v")
        val m = ctx.freshName("m")
        s"""
           |java.lang.String $str = $s.toString();
           |Object[] $arr = new Object[$totalSlots];
           |for (int $i = 0; $i < ${patterns.length}; $i++) {
           |  java.util.regex.Matcher $m = $ms[$i];
           |  $m.reset($str);
           |  if ($m.find()) {
           |    for (int $g = 1; $g <= $gcRef[$i]; $g++) {
           |      java.lang.String $v = $m.group($g);
           |      if ($v != null) $arr[$offRef[$i] + $g - 1] =
           |        org.apache.spark.unsafe.types.UTF8String.fromString($v);
           |    }
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-marker-set token membership counts in ONE tokenization pass:
    * splits the input on `\s+` (same regex split as `tokens()`) and counts,
    * for each of the given sets, how many tokens are members. Output(j) is
    * bit-identical to `size(filter(split(text, "\\s+"), t => t.isin(sets(j))))`
    * — the interpreted-filter form this replaces evaluated one regex split
    * per HOF, 12 of them per row in the language-id query. Callers pass
    * already-casefolded text (`lower(...)` stays a codegen'd Catalyst call).
    */
  case class MarkerTokenCounts(child: Expression, sets: Seq[Seq[String]])
      extends UnaryExpression with CodegenFallback {

    @transient private lazy val ws: UTF8String = UTF8String.fromString("\\s+")
    @transient private lazy val setArr: Array[java.util.HashSet[UTF8String]] =
      sets.map { s =>
        val hs = new java.util.HashSet[UTF8String](s.size * 2)
        s.foreach(m => hs.add(UTF8String.fromString(m)))
        hs
      }.toArray

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = s"graft_marker_counts(${sets.size})"

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[UTF8String].split(ws, -1)
      val counts = new Array[Int](setArr.length)
      var i = 0
      while (i < toks.length) {
        var j = 0
        while (j < setArr.length) {
          if (setArr(j).contains(toks(i))) counts(j) += 1
          j += 1
        }
        i += 1
      }
      new GenericArrayData(counts)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-document repetition statistics in ONE tokenization pass:
    * `struct<n_tok, n_distinct, top_bigram>` where top_bigram is the
    * occurrence count of the most frequent word bigram (tokens joined with
    * a single space). Feeds Gopher-style repetition quality filters
    * (duplicate-word fraction, top-2-gram fraction — Rae et al. 2021,
    * "Scaling Language Models", table A1 rules) as a MAP-ONLY per-row
    * computation: the DataFrame-composition alternative explodes every
    * bigram into a (doc, bigram) groupBy — a full shuffle of the corpus'
    * token stream — to answer a question that is local to each document.
    */
  case class RepetitionStats(child: Expression)
      extends UnaryExpression with CodegenFallback {

    @transient private lazy val ws: UTF8String = UTF8String.fromString("\\s+")

    override def dataType: DataType = StructType(Seq(
      StructField("n_tok", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("top_bigram", IntegerType, nullable = false)))
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "graft_repetition_stats"

    override def nullSafeEval(input: Any): Any = {
      val raw = input.asInstanceOf[UTF8String].split(ws, -1)
      // stringify each token ONCE; the strings serve both the distinct set
      // and the bigram keys (the naive loop converted every token twice)
      val toks = new Array[String](raw.length)
      val distinct = new java.util.HashSet[String](raw.length * 2)
      var i = 0
      while (i < raw.length) {
        toks(i) = raw(i).toString
        distinct.add(toks(i))
        i += 1
      }
      val bigrams = new java.util.HashMap[String, Integer](raw.length * 2)
      var top = 0
      i = 0
      while (i < toks.length - 1) {
        val c = bigrams.merge(toks(i) + " " + toks(i + 1), 1, (a, b) => a + b)
        if (c > top) top = c
        i += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(toks.length, distinct.size, top)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-document character-entropy sufficient statistics in ONE pass:
    * `struct(n_chars BIGINT, sum_clnc DOUBLE)` over the document's
    * NON-WHITESPACE characters, where sum_clnc = Σ_c count(c)·ln(count(c))
    * folded in ASCENDING code-point order. The caller derives Shannon
    * entropy as `ln(n) − sum_clnc/n` — the gibberish/compression quality
    * signal (uniform noise → high entropy; repeated-character spam → low).
    * Map-only by design: the DataFrame alternative explodes every character
    * into a corpus-sized (doc, char) groupBy to answer a question local to
    * each document.
    *
    * Determinism contract: whitespace = RE2's `\s` class (space, \t, \n,
    * \f, \r — same as the `\S` the oracle extracts); the fold order is
    * code-point ascending, matching DuckDB's `ORDER BY c` under binary
    * collation (ln is not correctly-rounded, so order must match — then
    * callers floor-round at 1e-4, the tx_surprisal discipline). Characters
    * are Unicode CODE POINTS (r16): the earlier UTF-16 code-unit walk
    * counted an astral-plane character as its two surrogates while
    * DuckDB counted one code point — the first unicode fuzz plant caught
    * the divergence on an emoji document (n_chars 31 vs 25). Iterating
    * with codePointAt matches DuckDB exactly, BMP and astral alike.
    */
  case class CharEntropyStats(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StructType(Seq(
      StructField("n_chars", LongType, nullable = false),
      StructField("sum_clnc", DoubleType, nullable = false)))
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "graft_char_entropy_stats"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val ascii = new Array[Long](128)
      var high: java.util.TreeMap[Integer, Long] = null
      var n = 0L
      var i = 0
      while (i < s.length) {
        val c = s.codePointAt(i)
        val ws = c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
        if (!ws) {
          n += 1
          if (c < 128) ascii(c) += 1
          else {
            if (high == null) high = new java.util.TreeMap[Integer, Long]()
            high.merge(Int.box(c), 1L, (a, b) => a + b)
          }
        }
        i += Character.charCount(c)
      }
      var sum = 0.0
      var cp = 0
      while (cp < 128) { // ascending code points: ASCII first…
        if (ascii(cp) > 0) sum += ascii(cp) * math.log(ascii(cp).toDouble)
        cp += 1
      }
      if (high != null) { // …then the ≥128 tail, TreeMap = ascending
        val it = high.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          sum += e.getValue * math.log(e.getValue.toDouble)
        }
      }
      org.apache.spark.sql.catalyst.InternalRow(n, sum)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Hashed-n-gram linear classifier features — the Spark side of a frozen
    * fastText-style quality model: every word unigram and adjacent word
    * bigram is hashed into one of 2^20 buckets, each bucket carries a fixed
    * integer weight, and the document's raw score is the bucket-weight sum.
    * Returns `struct(n_feat BIGINT, sum_w BIGINT)` from ONE pass over the
    * text — no token array, no explode, no shuffle.
    *
    * Determinism contract (what makes the DuckDB oracle possible):
    *   - tokens = maximal runs of non-whitespace under RE2's `\s` class
    *     (space, \t, \n, \f, \r — NOT vertical tab 0x0B, which Java's
    *     `\s` includes but DuckDB/RE2's excludes), empties dropped — same
    *     as `list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)`;
    *   - feature hash = the repo's rolling hash (fold `h*31 + codepoint`
    *     mod 1e9+7, seed 7) over the feature STRING, where a bigram's
    *     string is `tokA || ' ' || tokB` (single space regardless of the
    *     original whitespace run). Computed incrementally: at each token
    *     end the next bigram chain is seeded `(h(tok)*31 + 32) mod p`, so
    *     no substring is ever materialized;
    *   - bucket weight = `((h mod 2^20) * 2654435761) mod 2^20 - 2^19`,
    *     an integer in [-2^19, 2^19) — exact bigint arithmetic on both
    *     engines (max intermediate 2^20·2654435761 < 2^52).
    * Integer sums make the cross-engine comparison exact; callers derive
    * the float score as `sum_w / (n_feat · 2^20)` downstream (one IEEE
    * division — also bit-identical).
    */
  case class HashedNgramScore(child: Expression)
      extends UnaryExpression with CodegenFallback {

    private val P = 1000000007L
    private val Buckets = 1048576L // 2^20
    private val Mult = 2654435761L // Knuth's 2^32/phi multiplier

    override def dataType: DataType = StructType(Seq(
      StructField("n_feat", LongType, nullable = false),
      StructField("sum_w", LongType, nullable = false)))
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "graft_hashed_ngram_score"

    @inline private def weight(h: Long): Long =
      ((h % Buckets) * Mult) % Buckets - (Buckets / 2)

    // RE2 \s (the oracle's regex engine): no vertical tab, unlike Java's \s
    @inline private def isWs(cp: Int): Boolean =
      cp == ' ' || cp == '\t' || cp == '\n' || cp == '\f' || cp == '\r'

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      var h = 7L       // rolling hash of the in-progress token (seed 7)
      var hb = -1L     // rolling hash of (prev token + ' ' + in-progress); -1 = no prev
      var tokLen = 0
      var nFeat = 0L
      var sumW = 0L
      def endToken(): Unit = if (tokLen > 0) {
        nFeat += 1; sumW += weight(h)
        if (hb >= 0) { nFeat += 1; sumW += weight(hb) }
        hb = (h * 31L + 32L) % P // seed the next bigram chain: h(tok + ' ')
        h = 7L; tokLen = 0
      }
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        if (isWs(cp)) endToken()
        else {
          h = (h * 31L + cp) % P
          if (hb >= 0) hb = (hb * 31L + cp) % P
          tokLen += 1
        }
        i += Character.charCount(cp)
      }
      endToken()
      org.apache.spark.sql.catalyst.InternalRow(nFeat, sumW)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Greedy Maximal-Marginal-Relevance selection over a PRE-RANKED,
    * BOUNDED candidate list (Carbonell & Goldstein, SIGIR'98) — the
    * diversification step of a retrieval pipeline: pick `k` of the ≤m
    * candidates, each step maximizing `lam·rel − penW·max_sim_to_selected`
    * (step 1 has no penalty term: `lam·rel` exactly, no `− penW·0`
    * subtraction — mirrors the oracle's stage-1 SQL).
    *
    * Input: `array<struct<rank, neighbor_id, cos, embedding>>` (rank-
    * sorted); output `array<struct<sel_rank, neighbor_id, mmr_score>>`.
    * Determinism contract: pairwise cosines use the repo's left-fold
    * double dot ([[DotProduct]] order) and `dot/(sqrt(na)·sqrt(nb))`;
    * `lam`/`penW` are INDEPENDENT literals (0.7 and 0.3 — `1−0.7` is a
    * different double than `0.3`); ties broken by smaller neighbor_id.
    * The m×m similarity work happens inside one row's eval — candidates
    * per query are bounded, so this is a per-row kernel, not a join.
    */
  case class MmrSelect(child: Expression, k: Int, lam: Double, penW: Double)
      extends UnaryExpression with CodegenFallback {

    require(k >= 1, "k >= 1")

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("sel_rank", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("mmr_score", DoubleType, nullable = false))), containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "graft_mmr_select"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val ids = new Array[Long](n)
      val rel = new Array[Double](n)
      val embs = new Array[Array[Float]](n)
      val norms = new Array[Double](n)
      var i = 0
      while (i < n) {
        val row = arr.getStruct(i, 4)
        ids(i) = row.getLong(1)
        rel(i) = row.getDouble(2)
        embs(i) = row.getArray(3).toFloatArray()
        var s = 0.0
        val e = embs(i)
        var d = 0
        while (d < e.length) { s += e(d).toDouble * e(d).toDouble; d += 1 }
        norms(i) = math.sqrt(s)
        i += 1
      }
      def cosIJ(a: Int, b: Int): Double = {
        val ea = embs(a); val eb = embs(b)
        var s = 0.0
        var d = 0
        while (d < ea.length) { s += ea(d).toDouble * eb(d).toDouble; d += 1 }
        s / (norms(a) * norms(b))
      }
      val kk = math.min(k, n)
      val selected = new Array[Int](kk)
      val isSel = new Array[Boolean](n)
      val out = new Array[Any](kk)
      var step = 0
      while (step < kk) {
        var bi = -1
        var bm = 0.0
        var c = 0
        while (c < n) {
          if (!isSel(c)) {
            val mmr =
              if (step == 0) lam * rel(c)
              else {
                // pen starts at the cosine floor, not -Inf: a zero-norm
                // candidate's NaN sims are skipped, and -Inf would turn
                // into a +Inf MMR score that wins every argmax
                var pen = -1.0
                var s = 0
                while (s < step) {
                  val sim = cosIJ(c, selected(s))
                  if (!sim.isNaN && sim > pen) pen = sim
                  s += 1
                }
                lam * rel(c) - penW * pen
              }
            if (bi == -1 || mmr > bm || (mmr == bm && ids(c) < ids(bi))) {
              bi = c; bm = mmr
            }
          }
          c += 1
        }
        selected(step) = bi
        isSel(bi) = true
        out(step) = org.apache.spark.sql.catalyst.InternalRow(
          (step + 1).toLong, ids(bi), bm)
        step += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Integer seed of the hyperplane coefficient for (table, bit, dim):
    * xxhash64 of the dim index seeded by (table, bit), folded into
    * [0, 2000000]. The actual coefficient is (k - 1000000)/1e6 ∈ [-1, 1].
    * SHARED between the [[HyperplaneBuckets]] kernel and the sim_ann_lsh
    * oracle-SQL builder (which embeds these integers as literals so DuckDB
    * replays the identical hyperplanes) — keep it the single source of
    * truth, or the oracle silently drifts from the kernel.
    */
  def hyperplaneCoeffInt(t: Int, b: Int, d: Int): Long =
    java.lang.Math.floorMod(
      XXH64.hashLong(d.toLong, t.toLong * 1315423911L + b.toLong), 2000001L)

  /** Random-hyperplane LSH bucket keys for a float vector: `tables` keys,
    * each of `bits` sign bits. Hyperplane coefficient for (table, bit, dim)
    * is a deterministic xxhash64 folded into [-1, 1] — reproducible across
    * runs/partitions with no RNG state shipped to executors.
    */
  case class HyperplaneBuckets(child: Expression, tables: Int, bits: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = s"graft_lsh_buckets($tables,$bits)"

    private def coeff(t: Int, b: Int, d: Int): Double =
      (hyperplaneCoeffInt(t, b, d) - 1000000L) / 1000000.0

    override def nullSafeEval(input: Any): Any = {
      val vec = input.asInstanceOf[ArrayData]
      val dim = vec.numElements()
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var key = 0L
        var b = 0
        while (b < bits) {
          var proj = 0.0
          var d = 0
          while (d < dim) {
            if (!vec.isNullAt(d)) proj += vec.getFloat(d).toDouble * coeff(t, b, d)
            d += 1
          }
          if (proj > 0) key |= (1L << b)
          b += 1
        }
        out(t) = key
        t += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Indices of the `top` nearest centroids (by cosine, ties by index) for
    * a float vector — the IVF assign/probe kernel. The centroid matrix is
    * baked into the expression (it is small — the coarse quantizer), so
    * assignment is a pure map: no shuffle, no window, no join. Dot products
    * use the same sequential fold as [[DotProduct]].
    */
  case class NearestCentroids(child: Expression, centroids: Array[Array[Float]], top: Int)
      extends UnaryExpression with CodegenFallback {

    @transient private lazy val cNorms: Array[Double] =
      centroids.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = s"graft_nearest_centroids(${centroids.length},$top)"

    override def nullSafeEval(input: Any): Any = {
      val vec = input.asInstanceOf[ArrayData]
      val dim = vec.numElements()
      var vn = 0.0
      var d = 0
      while (d < dim) { val x = vec.getFloat(d).toDouble; vn += x * x; d += 1 }
      vn = math.sqrt(vn)
      val cos = new Array[Double](centroids.length)
      var j = 0
      while (j < centroids.length) {
        val c = centroids(j)
        if (c.length != dim)
          throw new IllegalStateException(
            s"NearestCentroids: centroid $j has dim ${c.length} but vectors have dim $dim " +
              "— a silent truncated dot product here would return plausible wrong cells")
        var acc = 0.0
        var i = 0
        val n = dim
        while (i < n) { acc += vec.getFloat(i).toDouble * c(i).toDouble; i += 1 }
        // NaN (a NaN embedding value, or a subnormal norm product
        // underflowing to 0 past the per-factor guards) maps to the same
        // -2.0 "never nearest" sentinel as a zero norm: the unboxed
        // selection loop below compares with >, where a NaN at the first
        // untaken slot would otherwise WIN every comparison it appears on
        // the right of (x > NaN is false) — the inverse of the boxed
        // total-order sortBy this loop replaced
        val cj = if (vn == 0 || cNorms(j) == 0) -2.0 else acc / (vn * cNorms(j))
        cos(j) = if (java.lang.Double.isNaN(cj)) -2.0 else cj
        j += 1
      }
      // O(top·k) unboxed selection (ties by index): top is 1 (assign) or
      // nProbe (≤8) — a full boxed sortBy here was the hot frame when the
      // trainer ran at auto-k centroid counts.
      val m = math.min(top, centroids.length)
      val idx = new Array[Int](m)
      val taken = new Array[Boolean](centroids.length)
      var s = 0
      while (s < m) {
        var bi = -1
        var j = 0
        while (j < centroids.length) {
          if (!taken(j) && (bi == -1 || cos(j) > cos(bi))) bi = j
          j += 1
        }
        taken(bi) = true
        idx(s) = bi
        s += 1
      }
      new GenericArrayData(idx)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Number of non-overlapping matches of `pattern` in a string — the
    * result of `size(regexp_extract_all(s, pattern, 0))` without
    * materializing the array of match strings (one allocation per match +
    * an UnsafeArrayData build per row). Same `Matcher.find()` loop as
    * RegexpExtractAll, so counts are identical, including zero-length
    * match advancement. Installed by the optimizer rule
    * [[graft.plans.RegexpCountRewrite]].
    */
  case class RegexpCount(child: Expression, pattern: String)
      extends UnaryExpression {

    @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)

    override def dataType: DataType = IntegerType
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "graft_regexp_count"

    // Matcher reused across rows (same discipline as Spark's own
    // RegExpExtractBase — per-instance transient state, reset per row).
    // ThreadLocal, not a bare field: interpreted eval instances are
    // per-task after plan deserialization, but nothing in the contract
    // FORBIDS cross-thread sharing (the Md5SimHash64 digest takes the
    // same precaution) — a shared Matcher reset() mid-scan by two threads
    // corrupts match spans. Codegen holds per-instance mutable state and
    // is unaffected.
    @transient private lazy val reusedMatcherTL =
      java.lang.ThreadLocal.withInitial[java.util.regex.Matcher](() => compiled.matcher(""))
    private def reusedMatcher: java.util.regex.Matcher = reusedMatcherTL.get()

    override def nullSafeEval(input: Any): Any = {
      val m = reusedMatcher.reset(input.asInstanceOf[UTF8String].toString)
      var n = 0
      while (m.find()) n += 1
      n
    }

    // Participates in whole-stage codegen — a CodegenFallback here would
    // break the surrounding codegen span and cost more than the saved
    // array materialization (measured 2.5×).
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val patRef = ctx.addReferenceObj("graftRegexpCountPattern", compiled,
        classOf[java.util.regex.Pattern].getName)
      val m = ctx.addMutableState("java.util.regex.Matcher", "graftRcMatcher",
        v => s"""$v = $patRef.matcher("");""")
      nullSafeCodeGen(ctx, ev, s => {
        val n = ctx.freshName("n")
        s"""
           |$m.reset($s.toString());
           |int $n = 0;
           |while ($m.find()) { $n++; }
           |${ev.value} = $n;
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** One-pass multi-pattern redaction: the patterns are combined into a
    * single alternation `(p1)|(p2)|...|(pn)`; at each position the
    * leftmost match wins with alternation-order priority, its pattern's
    * replacement is appended, and per-pattern match counts are returned
    * alongside the redacted string:
    * `struct<redacted: string, counts: array<long>>`.
    *
    * Equivalent to the sequential chain
    * `regexp_replace(...regexp_replace(s, p1, r1)..., pn, rn)` (with each
    * count taken on that stage's output) when
    *   (a) no replacement token matches, or creates a match of, any
    *       pattern,
    *   (b) patterns contain no capture groups of their own (group i is the
    *       combined alternation's i-th alternative — enforced at
    *       construction), and
    *   (c) no two patterns can match overlapping spans with DIFFERENT start
    *       positions: e.g. p1="b", p2="ab" on "ab" gives "a<1>" through the
    *       chain but "<2>" in one pass, because the single pass scans
    *       left-to-right and p2 wins at the earlier start. At identical
    *       starts the alternation's order priority equals chain order, so
    *       that case is safe. The tx_redact patterns satisfy (c): every
    *       character an IPv4 or user-token match can contain is also legal
    *       inside the email local-part class, so any overlap between two
    *       patterns' matches begins at the same character.
    * The 3-pass tx_redact chain this replaces re-scanned every string per
    * pattern plus three literal-replace count scans — six string passes
    * down to one.
    */
  case class RegexpReplaceMany(child: Expression, patterns: Seq[String],
                               replacements: Seq[String])
      extends UnaryExpression {
    require(patterns.nonEmpty && patterns.length == replacements.length,
      "patterns and replacements must pair up")
    // Condition (b): a pattern with its own capture groups would shift the
    // alternation's group numbering, sending the g<=n scan past replArr.
    require(patterns.forall(p =>
      java.util.regex.Pattern.compile(p).matcher("").groupCount() == 0),
      "patterns must not contain capture groups (use (?:...) instead)")

    @transient private lazy val compiled = java.util.regex.Pattern.compile(
      patterns.map(p => s"($p)").mkString("|"))
    // ThreadLocal, not a bare field: interpreted eval instances are
    // per-task after plan deserialization, but nothing in the contract
    // FORBIDS cross-thread sharing (the Md5SimHash64 digest takes the
    // same precaution) — a shared Matcher reset() mid-scan by two threads
    // corrupts match spans. Codegen holds per-instance mutable state and
    // is unaffected.
    @transient private lazy val reusedMatcherTL =
      java.lang.ThreadLocal.withInitial[java.util.regex.Matcher](() => compiled.matcher(""))
    private def reusedMatcher: java.util.regex.Matcher = reusedMatcherTL.get()
    @transient private lazy val replArr: Array[String] = replacements.toArray

    override def dataType: DataType = StructType(Seq(
      StructField("redacted", StringType, nullable = false),
      StructField("counts", ArrayType(LongType, containsNull = false), nullable = false)))
    override def nullable: Boolean = child.nullable
    override def prettyName: String = s"graft_regexp_replace_many(${patterns.length})"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val m = reusedMatcher.reset(s)
      val sb = new java.lang.StringBuilder(s.length)
      val cnt = new Array[Long](replArr.length)
      var last = 0
      while (m.find()) {
        sb.append(s, last, m.start())
        var g = 1
        while (g <= replArr.length && m.start(g) < 0) g += 1
        sb.append(replArr(g - 1))
        cnt(g - 1) += 1
        last = m.end()
      }
      sb.append(s, last, s.length)
      org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(sb.toString), new GenericArrayData(cnt))
    }

    // Whole-stage codegen (CodegenFallback would break the surrounding
    // span — see RegexpCount): same find loop, Matcher reused across rows.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val patRef = ctx.addReferenceObj("graftRrmPattern", compiled,
        classOf[java.util.regex.Pattern].getName)
      val replRef = ctx.addReferenceObj("graftRrmRepls", replArr, "java.lang.String[]")
      val m = ctx.addMutableState("java.util.regex.Matcher", "graftRrmMatcher",
        v => s"""$v = $patRef.matcher("");""")
      nullSafeCodeGen(ctx, ev, s => {
        val str = ctx.freshName("str")
        val sb = ctx.freshName("sb")
        val cnt = ctx.freshName("cnt")
        val last = ctx.freshName("last")
        val g = ctx.freshName("g")
        s"""
           |java.lang.String $str = $s.toString();
           |$m.reset($str);
           |java.lang.StringBuilder $sb = new java.lang.StringBuilder($str.length());
           |long[] $cnt = new long[${replArr.length}];
           |int $last = 0;
           |while ($m.find()) {
           |  $sb.append($str, $last, $m.start());
           |  int $g = 1;
           |  while ($g <= ${replArr.length} && $m.start($g) < 0) $g++;
           |  $sb.append($replRef[$g - 1]);
           |  $cnt[$g - 1]++;
           |  $last = $m.end();
           |}
           |$sb.append($str, $last, $str.length());
           |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
           |  new java.lang.Object[] {
           |    org.apache.spark.unsafe.types.UTF8String.fromString($sb.toString()),
           |    new org.apache.spark.sql.catalyst.util.GenericArrayData($cnt) });
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Adjacent element pairs of a string array, as `array<struct<a,b>>` —
    * the pair-statistics step of BPE training ((toks[i], toks[i+1]) for
    * every position). A built-in composition exists
    * (`arrays_zip(slice(x,1,n-1), slice(x,2,n-1))`) but its struct field
    * names depend on the input expressions; this kernel fixes the schema
    * and copies each element once. Arrays with < 2 elements yield [].
    */
  case class AdjacentPairs(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("a", StringType, nullable = false),
        StructField("b", StringType, nullable = false))), containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_adjacent_pairs"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < 2) return new GenericArrayData(new Array[Any](0))
      val out = new Array[Any](n - 1)
      var i = 0
      while (i < n - 1) {
        out(i) = org.apache.spark.sql.catalyst.InternalRow(
          arr.getUTF8String(i), arr.getUTF8String(i + 1))
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** One greedy-left BPE merge pass: every non-overlapping occurrence of
    * the adjacent pair (left, right) in the token array becomes the single
    * token left+right, scanning left to right (so "aaa" under merge (a,a)
    * → ["aa","a"], as in Sennrich et al.'s reference implementation). The
    * merge pair is a per-round constant, so it rides in the expression —
    * no join against a merges table.
    */
  case class BpeMergeApply(child: Expression, left: String, right: String)
      extends UnaryExpression with CodegenFallback {

    @transient private lazy val l = UTF8String.fromString(left)
    @transient private lazy val r = UTF8String.fromString(right)
    @transient private lazy val merged = UTF8String.fromString(left + right)

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = s"graft_bpe_merge($left,$right)"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = new java.util.ArrayList[Any](n)
      var i = 0
      while (i < n) {
        if (i < n - 1 && arr.getUTF8String(i) == l && arr.getUTF8String(i + 1) == r) {
          out.add(merged); i += 2
        } else {
          out.add(arr.getUTF8String(i)); i += 1
        }
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---- Column-level entry points -----------------------------------------

  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

  def dotProduct(a: Column, b: Column): Column = toCol(DotProduct(toExpr(a), toExpr(b)))
  def fingerprintHash(text: Column): Column = toCol(FingerprintHash(toExpr(text)))
  def regexpGroups(text: Column, pattern: String): Column =
    toCol(RegexpExtractGroups(toExpr(text), pattern))
  def multiRegexpFirstMatch(text: Column, patterns: Seq[String]): Column =
    toCol(MultiRegexpFirstMatch(toExpr(text), patterns))

  /** THE slot layout of [[MultiRegexpFirstMatch]]'s output array:
    * offsets(i) is where pattern i's group 1 lands, offsets(n) = total
    * slots. Callers map (pattern, group) → index through this, never by
    * re-deriving the layout — one source of truth for the flat packing.
    */
  def multiRegexpSlotOffsets(patterns: Seq[String]): Seq[Int] =
    patterns.map(p => java.util.regex.Pattern.compile(p).matcher("").groupCount())
      .scanLeft(0)(_ + _)
  def regexpReplaceMany(text: Column, patterns: Seq[String], replacements: Seq[String]): Column =
    toCol(RegexpReplaceMany(toExpr(text), patterns, replacements))
  def markerTokenCounts(text: Column, sets: Seq[Seq[String]]): Column =
    toCol(MarkerTokenCounts(toExpr(text), sets))
  def repetitionStats(text: Column): Column = toCol(RepetitionStats(toExpr(text)))
  def charEntropyStats(text: Column): Column = toCol(CharEntropyStats(toExpr(text)))
  def hashedNgramScore(text: Column): Column = toCol(HashedNgramScore(toExpr(text)))
  def minhashSignature(shingles: Column, k: Int): Column =
    toCol(MinHashSignature(toExpr(shingles), k))
  def simhash64(tokens: Column): Column = toCol(SimHash64(toExpr(tokens)))
  def simhash64Md5(tokens: Column): Column = toCol(Md5SimHash64(toExpr(tokens)))
  def wordShingles(text: Column, n: Int): Column = toCol(WordShingles(toExpr(text), n))
  def hyperplaneBuckets(vec: Column, tables: Int, bits: Int): Column =
    toCol(HyperplaneBuckets(toExpr(vec), tables, bits))
  def mmrSelect(cands: Column, k: Int, lam: Double, penW: Double): Column =
    toCol(MmrSelect(toExpr(cands), k, lam, penW))
  def nearestCentroids(vec: Column, centroids: Array[Array[Float]], top: Int): Column =
    toCol(NearestCentroids(toExpr(vec), centroids, top))
  def adjacentPairs(tokens: Column): Column = toCol(AdjacentPairs(toExpr(tokens)))
  def bpeMergeApply(tokens: Column, left: String, right: String): Column =
    toCol(BpeMergeApply(toExpr(tokens), left, right))
}
