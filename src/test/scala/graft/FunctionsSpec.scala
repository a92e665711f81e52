package graft

import org.apache.spark.sql.functions._

import graft.functions.InBroadcastSet
import graft.model._
import graft.model.FieldType._

class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("InBroadcastSet: correct membership incl. nulls, codegen path") {
    val terms = (1 to 50000).map(i => s"TERM:$i").toSet
    val df = Seq(Some("TERM:1"), Some("TERM:50000"), Some("nope"), None).toDF("t")
    val got = df.select(InBroadcastSet(spark, $"t", terms).as("m"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(got.toSeq === Seq(true, true, false, null))
  }

  test("InBroadcastSet agrees with isin on random data") {
    val terms = (1 to 20000).map(i => s"v$i").toSet
    val df = (1 to 1000).map(i => s"v${i * 37}").toDF("t")
    val a = df.select(InBroadcastSet(spark, $"t", terms).as("m")).collect().map(_.getBoolean(0))
    val small = df.select($"t".isin(terms.toSeq: _*).as("m")).collect().map(_.getBoolean(0))
    assert(a.toSeq === small.toSeq)
  }

  test("MinHashSig kernel == HOF reference formulation") {
    // the reference formulation the kernel replaced: numHashes interpreted
    // array_min(transform(...)) columns with the same seeded permutations
    val P = graft.functions.MinHashSig.Prime
    val rnd = new scala.util.Random(42L)
    val ps = Seq.fill(16)((1L + rnd.nextLong(P - 1), rnd.nextLong(P)))
    def hofSig(sh: org.apache.spark.sql.Column) =
      when(size(sh) === 0, lit(null).cast("array<bigint>")).otherwise(
        array(ps.map { case (a, b) =>
          array_min(transform(sh, s => pmod(pmod(s, lit(P)) * a + b, lit(P))))
        }: _*))
    val data = new scala.util.Random(7)
    val rows = (1 to 200).map(_ => Seq.fill(data.nextInt(40))(data.nextLong())) :+ Seq.empty[Long]
    val df = rows.toDF("sh")
    val got = df.select(graft.functions.VectorKernels.minhashSig($"sh", 16).as("s")).collect()
    val want = df.select(hofSig($"sh").as("s")).collect()
    assert(got.map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0)).toSeq ===
      want.map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0)).toSeq)
  }

  test("ShingleHash64 kernel == xxhash64-over-concat_ws HOF formulation") {
    def hofShingleHashes(text: org.apache.spark.sql.Column, k: Int) = {
      val toks = split(lower(trim(text)), "\\s+")
      val n = size(toks)
      when(text.isNull || trim(text) === "", array().cast("array<bigint>"))
        .otherwise(array_distinct(transform(sequence(lit(0), greatest(n - k, lit(0))),
          i => xxhash64(concat_ws(" ", slice(toks, i + lit(1), lit(k)))))))
    }
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "one two", "single", "a a a a a a", "  padded   whitespace  text ", "")
    val df = texts.toDF("text")
    for (k <- Seq(1, 2, 3, 5)) {
      val got = df.select(graft.ops.Dedup.shingleHashes($"text", k).as("h"))
        .collect().map(_.getSeq[Long](0))
      val want = df.select(hofShingleHashes($"text", k).as("h"))
        .collect().map(_.getSeq[Long](0))
      assert(got.toSeq === want.toSeq, s"k=$k")
    }
  }

  test("SimHashPack kernel == HOF vote/pack formulation; cosine kernel == zip_with") {
    val texts = Seq("the quick brown fox", "pack my box with five dozen jugs",
      "aaa bbb ccc aaa", "x")
    val df = texts.toDF("text")
    def hofSimhash(text: org.apache.spark.sql.Column) = {
      val toks = array_distinct(split(lower(trim(text)), "\\s+"))
      val votes = aggregate(toks, array_repeat(lit(0L), 64), (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)), (a, bit) =>
          a + when(call_function("shiftright", h, bit.cast("int")).bitwiseAND(lit(1L)) === 1L,
            lit(1L)).otherwise(lit(-1L)))
      })
      aggregate(zip_with(votes, sequence(lit(0), lit(63)), (v, bit) =>
        when(v > 0, call_function("shiftleft", lit(1L), bit.cast("int"))).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc.bitwiseOR(x))
    }
    val got = df.select(graft.ops.Dedup.simhash($"text").as("h")).collect().map(_.getLong(0))
    val want = df.select(hofSimhash($"text").as("h")).collect().map(_.getLong(0))
    assert(got.toSeq === want.toSeq)

    val rnd = new scala.util.Random(5)
    val vecs = (1 to 100).map(_ => (Seq.fill(64)(rnd.nextFloat()), Seq.fill(64)(rnd.nextFloat())))
    val vdf = vecs.toDF("a", "b")
    def hofCos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
          lit(0.0), (acc, v) => acc + v)
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    }
    val gc = vdf.select(graft.ops.Dedup.cosine($"a", $"b").as("c")).collect().map(_.getDouble(0))
    val wc = vdf.select(hofCos($"a", $"b").as("c")).collect().map(_.getDouble(0))
    gc.zip(wc).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
  }

  test("HyperplaneLshBucket kernel == HOF sign-of-projection formulation") {
    def hofBucket(vec: org.apache.spark.sql.Column, planes: Array[Array[Double]]) =
      planes.zipWithIndex.map { case (p, b) =>
        val dot = aggregate(zip_with(vec, typedLit(p.toSeq),
          (x, w) => x.cast("double") * w), lit(0.0), (acc, v) => acc + v)
        when(dot > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    val planes = graft.ops.Similarity.hyperplanes(dim = 16, bits = 6)
    val rnd = new scala.util.Random(11)
    val df = (1 to 200).map(_ => Seq.fill(16)(rnd.nextFloat() * 2 - 1)).toDF("v")
    val got = df.select(graft.functions.VectorKernels.hyperplaneLsh($"v", planes).as("b"))
      .collect().map(_.getLong(0))
    val want = df.select(hofBucket($"v", planes).as("b")).collect().map(_.getLong(0))
    assert(got.toSeq === want.toSeq)
  }

  test("Iso8601: randomized corpus with constructed validity; Spark == driver kernel") {
    import java.time.{LocalDate, LocalTime}
    import java.time.format.DateTimeFormatter
    val rnd = new scala.util.Random(20260816L)
    val corpus = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    (1 to 300).foreach { _ =>
      // a REAL date, rendered in each supported shape -> must validate
      val d = LocalDate.ofEpochDay(rnd.between(-40000L, 40000L)) // ~1860..2079
      corpus += ((d.toString, true))
      corpus += ((d.format(DateTimeFormatter.BASIC_ISO_DATE), true))
      corpus += ((d.format(DateTimeFormatter.ISO_ORDINAL_DATE), true))
      corpus += ((d.format(DateTimeFormatter.ISO_WEEK_DATE), true))
      corpus += ((f"${d.getYear}%04d-${d.getMonthValue}%02d", true))
      // a REAL time in several renderings, attached to the date
      val t = LocalTime.ofSecondOfDay(rnd.nextInt(86400))
      val hms = f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
      val off = Seq("", "Z", "+02:00", "-0500", "+01")(rnd.nextInt(5))
      corpus += ((s"${d}T$hms$off", true))
      corpus += ((s"${d}T${hms.replace(":", "")}$off", true))
      corpus += ((s"${d}T${hms.take(5)},${1 + rnd.nextInt(999)}$off", true))
      // mutations with KNOWN invalidity
      corpus += ((f"${d.getYear}%04d-13-${1 + rnd.nextInt(28)}%02d", false)) // month 13
      corpus += ((f"${d.getYear}%04d-${d.getMonthValue}%02d-32", false)) // day 32
      corpus += ((f"${d.getYear}%04d-W54-1", false)) // week 54
      corpus += ((s"${d}T24:${f"${rnd.nextInt(59) + 1}%02d"}", false)) // hour 24
      corpus += ((s"${d}T${f"${rnd.nextInt(24)}%02d"}:60", false)) // minute 60
      corpus += ((f"${rnd.nextInt(100)}%02d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d", false)) // 2-digit year
      val nonLeap = if (d.isLeapYear) d.getYear + 1 else d.getYear
      corpus += ((f"$nonLeap%04d-366", false)) // ordinal 366 in a non-leap year
      corpus += ((rnd.alphanumeric.take(8).mkString, false))
    }
    // driver-side kernel agrees with constructed validity
    corpus.foreach { case (s, want) =>
      assert(graft.functions.Iso8601.isValid(s) === want, s)
    }
    // Spark expression (codegen path) agrees with the driver kernel
    val df = corpus.toSeq.map(_._1).toDF("s")
    val got = df.select(graft.functions.Iso8601.valid($"s")).collect().map(_.getBoolean(0))
    assert(got.toSeq === corpus.map(_._2).toSeq)
  }

  test("CharClassMatch == java.util.regex find() on supported anchored patterns") {
    import graft.functions.CharClassMatch
    val patterns = Seq(
      "^repo_[a-z0-9_]+$", "^[A-Za-z0-9_./-]+$", "^[0-9a-f]{40}$",
      "^src[0-9]$", "^\\d{1,3}$", "^[a-f]{2}[0-9]{3}$", "^\\w+$",
      "^x[0-9]*y$",
      // two variable tokens, one small-bounded (<= 9 attempts, no general
      // backtracking): the Int validator's shape
      "^-?\\d+$", "^-?\\d{1,3}$", "^[ab]{0,2}x[0-9]*$",
      // (?i) ASCII fold: the reference's MD5 subtype + mixed literal/class
      "(?i)^[0-9a-f]{32}$", "(?i)^src[0-9]$", "(?i)^[A-F]+x$")
    patterns.foreach(p => assert(CharClassMatch.compile(p).isDefined, p))
    // out-of-scope patterns fall back to rlike (compile -> None)
    Seq("^((([A-Za-z\\d\\- ]+);([SIR]);(\\d+)(;(\\w+))?),? *)+$", // AMR: groups
      "^(?i)[0-9a-f]{32}$", // flag not at position 0
      "^[0-9a-f]{8}-([0-9a-f]{4}-){3}[0-9a-f]{12}$", // group quantifier
      "^[a-z]+[0-9]+$", // two UNBOUNDED variable tokens
      "^[^a-z]+$", "^a.b$", "^(a|b)$", "\\d+", "^a\\s$")
      .foreach(p => assert(CharClassMatch.compile(p).isEmpty, p))
    // corpus: targeted edge cases + fuzz; oracle = java.util.regex find()
    val rnd = new scala.util.Random(7L)
    val alphabet = "abcdef0123456789_./-xyzXYZ \t\n"
    val edge = Seq("", "repo_", "repo_a", "repo_A", "repo_a\n", "repo_a\n\n",
      "src1", "src12", "srcx", "a" * 40, "0" * 40, "0" * 39, "0" * 41,
      "repo_é", "é", "x9y", "xy", "x\n", "-12", "123", "-1234", "ab123",
      "repo_a ", " repo_a", "-", "--1", "-0", "42", "-9" * 6, "abx12",
      "bax", "aax9", "x", "-12\n",
      // (?i) fold cases: mixed-case hex, SRC, class-vs-literal case
      "A" * 32, "a" * 32, "aAbB0912" * 4, "SRC1", "Src9", "sRc5", "ABx",
      "abX", "Fx", "fx", "FX")
    val fuzz = (1 to 400).map(_ =>
      (0 until rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val corpus = (edge ++ fuzz).distinct
    for (p <- patterns) {
      val jre = java.util.regex.Pattern.compile(p)
      val prog = CharClassMatch.compile(p).get
      for (s <- corpus) {
        val want = jre.matcher(s).find()
        val got = CharClassMatch.run(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), prog)
        assert(got === want, s"pattern=$p value=${s.map(_.toInt)}")
      }
    }
    // Spark column path (codegen) == rlike over the same corpus
    val df = corpus.toDF("s")
    for (p <- patterns) {
      val kernel = graft.functions.CharClassMatch.columnIfSupported($"s", p).get
      val both = df.select(kernel.as("k"), $"s".rlike(p).as("r")).collect()
      both.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1), p))
    }
  }

  test("CharClassMatch rejects letter escapes in classes and mid-pattern anchors") {
    import graft.functions.CharClassMatch
    // round-2 bug: these compiled to literal-LETTER scans (silent wrong
    // answers); they must return None so the caller keeps rlike
    Seq("^[\\s]$", "^[\\n]+$", "^[\\t]$", "^[\\S]$", "^[\\D]$", "^[\\W]$",
      "^[a\\s]+$", "^[\\w\\s]+$", "^[\\b]$", "^[\\1]$", "^[a-\\d]$",
      "^a$b$", "^a^b$", "^$a$",
      // terminator-capable patterns: raw \n/\r literals or classes/ranges
      // spanning them would diverge from rlike at end-of-input (the
      // matcher strips the input's final line terminator) — reject
      "^a\n$", "^a\r$", "^[a\n]$", "^[\t- ]+$")
      .foreach(p => assert(CharClassMatch.compile(p).isEmpty, p))
    // AsciiAltMatch: same terminator rule for alternation literals
    Seq("^(a\n|b)$", "^(a|b\r)$")
      .foreach(p => assert(graft.functions.AsciiAltMatch.compile(p).isEmpty, p))
    assert(graft.functions.AsciiAltMatch.compile("^(a|b)$").isDefined)
    // escaped punctuation inside classes stays supported and correct
    val p = "^[\\-\\.a-f]+$"
    val prog = CharClassMatch.compile(p).get
    val jre = java.util.regex.Pattern.compile(p)
    Seq("-.af", "a-f.", "g", "", "A", "a.f\n", "-").foreach { s =>
      assert(CharClassMatch.run(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), prog)
        === jre.matcher(s).find(), s)
    }
  }

  test("CharClassMatch $ tolerates exactly java.util.regex's final line terminators") {
    import graft.functions.CharClassMatch
    val prog = CharClassMatch.compile("^abc$").get
    val jre = java.util.regex.Pattern.compile("^abc$")
    val table = Seq(
      "abc" -> true, "abc\n" -> true, "abc\r\n" -> true, "abc\r" -> true,
      "abc\u0085" -> true, "abc\u2028" -> true, "abc\u2029" -> true,
      "abc\n\n" -> false, "abc\r\r" -> false, "abc\n\r" -> false,
      "abc\r\n\n" -> false, "abc " -> false, "ab\nc" -> false,
      "abc\u0085\u0085" -> false, "abc\u2028x" -> false)
    table.foreach { case (s, want) =>
      assert(jre.matcher(s).find() === want, s"oracle drift: $s") // self-check
      assert(CharClassMatch.run(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), prog) === want,
        s.map(_.toInt).mkString(","))
    }
  }

  test("CharClassMatch property fuzz: kernel == java.util.regex on generated patterns") {
    import graft.functions.CharClassMatch
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(2026L)
    val classes = Seq(
      "[a-f]" -> "abcdef", "[0-9]" -> "0123456789",
      "[a-f0-9_]" -> "abcdef0123456789_", "\\d" -> "0123456789",
      "\\w" -> "azAZ09_", "[abc]" -> "abc", "[.-]" -> ".-", "[\\-\\.]" -> "-.")
    def quant(): (String, Int, Int) = rnd.nextInt(7) match {
      case 0 => ("", 1, 1)
      case 1 => ("+", 1, 5)
      case 2 => ("*", 0, 5)
      case 3 => ("?", 0, 1)
      case 4 => ("{2}", 2, 2)
      case 5 => ("{1,3}", 1, 3)
      case _ => ("{2,}", 2, 5)
    }
    val noiseAlpha = "abf09_.-\t\n\r xZ"
    var tested = 0
    for (_ <- 1 to 400) {
      val nTok = 1 + rnd.nextInt(4)
      val sb = new StringBuilder(if (rnd.nextInt(3) == 0) "(?i)^" else "^")
      // each maker renders one token's worth of (possibly) matching text
      val makers = (1 to nTok).map { _ =>
        if (rnd.nextBoolean()) {
          val (pat, alpha) = classes(rnd.nextInt(classes.length))
          val (q, lo, hi) = quant()
          sb.append(pat).append(q)
          () => {
            val len = lo + rnd.nextInt(hi - lo + 1)
            (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
          }
        } else {
          val chars = "abz019_"
          val (pat, s) =
            if (rnd.nextInt(4) == 0) ("\\.", ".")
            else { val c = chars(rnd.nextInt(chars.length)).toString; (c, c) }
          sb.append(pat)
          () => s
        }
      }
      sb.append("$")
      val p = sb.toString
      CharClassMatch.compile(p).foreach { prog =>
        tested += 1
        val jre = java.util.regex.Pattern.compile(p)
        val base = (1 to 6).map(_ => makers.map(_()).mkString)
        val mutated = base.flatMap { s =>
          Seq(s, s + "\n", s + "\r\n", s + "\r", s + "\u0085",
            s + "\u2028", s + "\u2029", s + "\n\n", s + "x", "x" + s,
            s + " ", s.drop(1), s.toUpperCase, s.toLowerCase)
        }
        val noise = (1 to 10).map(_ => (0 until rnd.nextInt(8)).map(_ =>
          noiseAlpha(rnd.nextInt(noiseAlpha.length))).mkString)
        for (s <- (mutated ++ noise).distinct) {
          val want = jre.matcher(s).find()
          val got = CharClassMatch.run(UTF8String.fromString(s), prog)
          assert(got === want,
            s"pattern=$p value=[${s.map(_.toInt).mkString(",")}]")
        }
      }
    }
    assert(tested >= 100, s"generator only produced $tested compilable patterns")
  }

  test("AsciiAltMatch == java.util.regex on literal alternations incl. (?i) and terminators") {
    import graft.functions.AsciiAltMatch
    import org.apache.spark.unsafe.types.UTF8String
    val patterns = Seq(
      "(?i)^(1|true|yes|0|false|no)$", // the reference Bool pattern
      "^(male|female|unknown)$", "^(a)$", "^(GET|PUT|POST)$",
      "(?i)^(On|Off)$", "^(a\\.b|c\\-d)$")
    patterns.foreach(p => assert(AsciiAltMatch.compile(p).isDefined, p))
    // out of scope -> None (caller keeps rlike)
    Seq("^(a|)$", "^(|a)$", "^(a|b)c$", "^a|b$", "^((a)|b)$", "^([ab]|c)$",
      "^(a+|b)$", "^(a\\d|b)$", "(?i)^(a|é)$", "^(a|b)", "(a|b)$",
      "(?u)^(a|b)$").foreach(p => assert(AsciiAltMatch.compile(p).isEmpty, p))
    val values = Seq("", "1", "true", "TRUE", "True", "tRuE", "yes", "no",
      "NO", "0", "false", "nope", "truex", "xtrue", " true", "true ",
      "true\n", "TRUE\r\n", "yes\r", "no", "1 ", "0 ",
      "true\n\n", "male", "FEMALE", "unknown", "GET", "get", "PUT", "a.b",
      "axb", "c-d", "cxd", "On", "ON", "on", "Off", "é", "a", "A")
    for (p <- patterns) {
      val jre = java.util.regex.Pattern.compile(p)
      val (alts, fold) = AsciiAltMatch.compile(p).get
      for (s <- values) {
        val want = jre.matcher(s).find()
        val got = AsciiAltMatch.run(UTF8String.fromString(s), alts, fold)
        assert(got === want, s"pattern=$p value=[${s.map(_.toInt).mkString(",")}]")
      }
    }
    // Spark column path (codegen) == rlike over the same corpus
    val df = values.toDF("s")
    for (p <- patterns) {
      val kernel = graft.functions.AsciiAltMatch.columnIfSupported($"s", p).get
      val both = df.select(kernel.as("k"), $"s".rlike(p).as("r")).collect()
      both.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1), p))
    }
  }

  test("Sha256Hex kernel == sha2(s, 256) on randomized strings incl. unicode and nulls") {
    val rnd = new scala.util.Random(7)
    val strs: Seq[String] = Seq("", "a", "hello world", "héllo wörld 中文",
      "x" * 1000, "line1\nline2\r\n\ttab") ++
      (1 to 200).map(_ => rnd.alphanumeric.take(rnd.nextInt(120)).mkString) ++
      (1 to 50).map(_ => (1 to rnd.nextInt(40)).map(_ =>
        (0x20 + rnd.nextInt(0x2500)).toChar).mkString)
    val df = (strs.map(Option(_)) :+ None).toDF("s")
    val both = df.select(
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.Sha256Hex(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression($"s"))).as("k"),
      sha2($"s", 256).as("r")).collect()
    both.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("MinHashSig.coefficients(32, 42) is the pinned sequence the DuckDB oracle inlines") {
    // Oracles.ddMinhash embeds these (a, b) pairs in its generated SQL; if
    // the derivation (scala.util.Random(42) interleaved draws) ever drifts,
    // the kernel and the oracle would silently diverge — pin the head and a
    // middle/tail sample of the sequence.
    val ab = graft.functions.MinHashSig.coefficients(32, 42L)
    assert(ab.length === 32)
    assert(ab(0) === ((1562431131L, 1467211249L)))
    assert(ab(1) === ((102948885L, 2023087526L)))
    assert(ab(15) === ((194700535L, 641275112L)))
    assert(ab(31) === ((740513296L, 2066924824L)))
    // every a in [1, P-1], every b in [0, P-1]
    val P = graft.functions.MinHashSig.Prime
    assert(ab.forall { case (a, b) => a >= 1 && a < P && b >= 0 && b < P })
    // and the oracle SQL actually embeds the first pair
    assert(graft.queries.Oracles.ddMinhash.contains("[1562431131, 1467211249]"))
    assert(graft.queries.Oracles.ddSimhash.contains("WITH RECURSIVE"))
  }

  test("winnowFingerprints: hand values, shared-substring guarantee, short-doc edges") {
    import graft.ops.TextAnalysis
    // k=1, w=2 hand case: hashes of (a b a) are [97, 98, 97]; window mins
    // [97, 97] -> distinct sorted [97]
    val got = Seq("a b a").toDF("text")
      .select(TextAnalysis.winnowFingerprints($"text", 1, 2).as("f"))
      .collect().head.getSeq[Long](0)
    assert(got === Seq(97L))
    // the winnowing guarantee: docs sharing a run of >= k+w-1 = 6 tokens
    // share at least one fingerprint
    val shared = "alpha beta gamma delta epsilon zeta"
    val fps = Seq(
      (1L, s"prefix words here $shared and more tail"),
      (2L, s"$shared completely different continuation text"),
      (3L, "nothing in common with those two at all"))
      .toDF("id", "text")
      .select($"id", TextAnalysis.winnowFingerprints($"text", 3, 4).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty, "shared run must collide")
    assert((fps(1L) intersect fps(3L)).isEmpty, "disjoint docs must not")
    // contract edges: < k tokens -> empty; 1..w-1 grams -> one global min
    val edges = Seq(("xy zz", 1), ("t u v w x", 2)).toDF("text", "tag")
      .select($"tag", TextAnalysis.winnowFingerprints($"text", 3, 4).as("f"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(edges(1).isEmpty)      // 2 tokens < k
    assert(edges(2).length === 1) // 3 grams < w -> single min
  }

  test("WinnowFingerprints kernel == the HOF formulation on randomized docs") {
    import graft.ops.{Curation, TextAnalysis}
    // the replaced higher-order-function formulation, verbatim
    def hofWinnow(text: org.apache.spark.sql.Column, k: Int, w: Int) = {
      val P = 2147483647L
      def bind1(c: org.apache.spark.sql.Column)(
          f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        element_at(transform(array(c), x => f(x)), 1)
      def polyHash(g: org.apache.spark.sql.Column) =
        aggregate(filter(split(g, ""), c => c =!= ""), lit(0L),
          (acc, ch) => pmod(acc * 31L + ascii(ch).cast("long"), lit(P)))
      bind1(transform(Curation.wordNgrams(text, k), g => polyHash(g))) { h =>
        sort_array(array_distinct(
          when(size(h) === 0, array().cast("array<bigint>"))
            .when(size(h) < w, array(array_min(h)))
            .otherwise(transform(sequence(lit(1), size(h) - (w - 1)),
              i => array_min(slice(h, i, lit(w)))))))
      }
    }
    val rnd = new scala.util.Random(17)
    val words = Array("merge", "sort", "a", "Zb", "x9", "ключ", "long-token")
    val docs = (1 to 120).map { i =>
      (i.toLong, (0 until rnd.nextInt(14)).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" "))
    } :+ ((999L, null.asInstanceOf[String]))
    val df = docs.toDF("id", "text")
    for ((k, w) <- Seq((3, 4), (1, 2), (2, 5))) {
      val rows = df.select($"id",
        TextAnalysis.winnowFingerprints($"text", k, w).as("kernel"),
        hofWinnow($"text", k, w).as("hof")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"k=$k w=$w id=${r.getLong(0)}")
      }
    }
  }

  test("BroadcastMapLookup: codegen path, inside-HOF interpreted path, absent key -> NULL") {
    import graft.functions.BroadcastMapLookup
    val m = BroadcastMapLookup.broadcastMap(spark, Map("a" -> 1.5, "b" -> -2.0))
    val df = Seq(("a"), ("b"), ("zzz"), (null: String)).toDF("t")
    // plain column reference: whole-stage-codegen path
    val got = df.select(BroadcastMapLookup.lookup($"t", m).as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq === Seq(Some(1.5), Some(-2.0), None, None))
    // inside a transform lambda: interpreted eval path
    val arr = Seq(Seq("a", "b", "zzz")).toDF("xs")
      .select(transform($"xs", x =>
        coalesce(BroadcastMapLookup.lookup(x, m), lit(0.0))).as("vs"))
      .collect().head.getSeq[Double](0)
    assert(arr === Seq(1.5, -2.0, 0.0))
  }

  test("termFreqArray: run-length tf over the sorted tokens, single-token and empty-ish docs") {
    import graft.ops.TextAnalysis
    val df = Seq("b a c a b a", "solo", "x x x x").toDF("text")
    val got = df.select(TextAnalysis.termFreqArray(
      TextAnalysis.tokensLower($"text")).as("tf"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getLong(1))))
    assert(got(0) === Seq(("a", 3L), ("b", 2L), ("c", 1L)))
    assert(got(1) === Seq(("solo", 1L)))
    assert(got(2) === Seq(("x", 4L)))
    // genuinely EMPTY arrays (every token filtered away) and NULL inputs
    // must yield [], not an out-of-bounds error from sequence(1, 0)
    val edge = Seq("x x").toDF("text")
      .select(
        TextAnalysis.termFreqArray(
          filter(TextAnalysis.tokensLower($"text"), t => t =!= "x")).as("e"),
        TextAnalysis.termFreqArray(lit(null).cast("array<string>")).as("n"))
      .collect().head
    assert(edge.getSeq[org.apache.spark.sql.Row](0).isEmpty)
    assert(edge.getSeq[org.apache.spark.sql.Row](1).isEmpty)
  }

  test("FreqItemsSketch exact regime: capacity >= distinct == the plain word count, any partitioning") {
    import graft.functions.FreqItemsSketch
    val rnd = new scala.util.Random(7)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val rows = Seq.fill(5000)(words(rnd.nextInt(words.length))).toDF("token")
      .repartition(7) // partial buffers serialize across the exchange
    val got = rows
      .agg(FreqItemsSketch.sketch($"token", 16).as("sk"))
      .select(explode($"sk").as("e"))
      .select($"e.token", $"e.est_count")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = rows.groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === truth)
    // output array order: count DESC, token ASC
    val ordered = rows.agg(FreqItemsSketch.sketch($"token", 16).as("sk"))
      .select(explode($"sk").as("e")).select($"e.token", $"e.est_count")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(ordered.toSeq === ordered.sortBy { case (t, c) => (-c, t) }.toSeq)
  }

  test("FreqItemsSketch bounded regime: Misra-Gries guarantees hold under merge") {
    import graft.functions.FreqItemsSketch
    // 600 a + 300 b + 200 distinct singletons; n = 1100, capacity 4
    // -> every item with true count > n/(cap+1) = 220 MUST be present,
    // and every estimate e satisfies true - 220 <= e <= true.
    val items = Seq.fill(600)("a") ++ Seq.fill(300)("b") ++
      (1 to 200).map(i => s"one$i")
    val rows = scala.util.Random.shuffle(items).toDF("token").repartition(5)
    val got = rows.agg(FreqItemsSketch.sketch($"token", 4).as("sk"))
      .select(explode($"sk").as("e")).select($"e.token", $"e.est_count")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size <= 4)
    assert(got.contains("a") && got.contains("b"), s"heavy hitters missing: $got")
    val truth = Map("a" -> 600L, "b" -> 300L).withDefaultValue(1L)
    got.foreach { case (t, e) =>
      assert(e <= truth(t), s"$t overestimated: $e > ${truth(t)}")
      assert(e >= truth(t) - 220, s"$t undershoots the MG bound: $got")
    }
  }

  test("AcMultiLiteralStats: matches a sequential indexOf reference on " +
      "randomized text (overlapping, nested and multibyte literals)") {
    import graft.functions.AcMultiLiteralStats
    // nested ("a" inside "aba"), self-overlapping ("aa"), shared-prefix
    // ("ab"/"aba"), multibyte, and phrase-with-space literals
    val dict = Seq("ab", "ba", "aba", "aa", "a", "é✓", "zz z")
    def refCount(t: String, w: String): Int = {
      var i = 0; var c = 0
      var j = t.indexOf(w, i)
      while (j >= 0) { c += 1; i = j + w.length; j = t.indexOf(w, i) }
      c
    }
    val rnd = new scala.util.Random(59)
    val alph = Seq("a", "b", "z", " ", "é", "✓")
    val inputs = Seq("", "a", "ababa", "aaaa", "é✓é✓", "zz zz z") ++
      Seq.fill(80)((0 until rnd.nextInt(60))
        .map(_ => alph(rnd.nextInt(alph.length))).mkString)
    val got = inputs.toDF("t")
      .select(AcMultiLiteralStats.stats($"t", dict).as("s"))
      .select($"s.n_terms", $"s.n_hits")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    inputs.zip(got).foreach { case (t, (terms, hits)) =>
      val cs = dict.map(refCount(t, _))
      assert(terms === cs.count(_ > 0), s"n_terms for '$t'")
      assert(hits === cs.sum.toLong, s"n_hits for '$t' (ref ${dict.zip(cs)})")
    }
    assert(Seq[String](null).toDF("t")
      .select(AcMultiLiteralStats.stats($"t", dict)).collect().head.isNullAt(0))
  }

  test("AcAutomaton: sparse fail-link mode (forced) is hit-for-hit " +
      "identical to the dense DFA on randomized corpora and dictionaries") {
    import graft.functions.AcAutomaton
    val rnd = new scala.util.Random(113)
    val alph = "abcz é✓"
    def randStr(n: Int): String =
      (0 until n).map(_ => alph(rnd.nextInt(alph.length))).mkString
    // 60 random literals incl. prefixes/nests; dedupe to satisfy the
    // dictionary contract
    val dict = (Seq("a", "ab", "aba", "zz z", "é✓") ++
      Seq.fill(60)(randStr(1 + rnd.nextInt(6)))).distinct.filter(_.nonEmpty)
    val dense = new AcAutomaton(dict.toArray) // default threshold: dense
    val sparse = new AcAutomaton(dict.toArray, denseMax = 1) // forced sparse
    val inputs = Seq("", "a", "ababa zz zzz é✓é✓") ++
      Seq.fill(200)(randStr(rnd.nextInt(120)))
    inputs.foreach { t =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
      val d = dense.run(u)
      val sp = sparse.run(u)
      assert(sp.getInt(0) === d.getInt(0), s"n_terms diverged on '$t'")
      assert(sp.getLong(1) === d.getLong(1), s"n_hits diverged on '$t'")
    }
  }

  test("CharEntropy: matches an independent BigDecimal-free reference on " +
      "hand cases, randomized ASCII and multibyte/supplementary strings") {
    import graft.functions.CharEntropy
    def ref(s: String): Double = {
      val cps = s.codePoints().toArray
      if (cps.isEmpty) 0.0
      else {
        val n = cps.length.toDouble
        cps.groupBy(identity).values.map(_.length / n)
          .map(p => -p * math.log(p) / math.log(2.0)).sum
      }
    }
    val hand = Seq("", "a", "aabb", "abab", "abcabd", "aaaa",
      "é✓汉é", "a😀b😀", " \t\nmixed WS ")
    val rnd = new scala.util.Random(23)
    // sample whole code points (indexing chars would split 😀 into lone
    // surrogates — not a valid string, and not round-trippable via UTF-8)
    val alph = "abcdefgh 0123é✓汉😀".codePoints().toArray
      .map(Character.toString)
    val fuzz = Seq.fill(60)(
      (0 until rnd.nextInt(40)).map(_ => alph(rnd.nextInt(alph.length))).mkString)
    val inputs = hand ++ fuzz
    val got = inputs.toDF("s")
      .select(CharEntropy.entropy($"s").as("h")).collect().map(_.getDouble(0))
    inputs.zip(got).foreach { case (s, h) =>
      assert(math.abs(h - ref(s)) < 1e-12, s"entropy of '$s'")
    }
    // null in, null out
    assert(Seq[String](null).toDF("s")
      .select(CharEntropy.entropy($"s")).collect().head.isNullAt(0))
  }

  test("PqEncode/PqAdcScore: argmin codes match a scalar reference on random " +
      "float and double vectors; duplicate codes tie to the lower index; " +
      "ADC equals the lut sum; null in, null out") {
    import graft.functions.PqKernels
    val rnd = new scala.util.Random(67)
    val m = 4; val k = 5; val dsub = 3
    val cbs = Array.fill(m, k, dsub)(rnd.nextGaussian())
    // plant an exact duplicate code: subspace 1's code 3 == code 1
    cbs(1)(3) = cbs(1)(1).clone()
    val vecsF = Seq.fill(40)(Array.fill(m * dsub)(rnd.nextGaussian().toFloat))
    // one vector sitting EXACTLY on subspace 1's duplicated code
    val onDup = Array.fill(m * dsub)(rnd.nextGaussian().toFloat)
    for (i <- 0 until dsub) onDup(dsub + i) = cbs(1)(1)(i).toFloat
    val inputs = vecsF :+ onDup
    def refCodes(v: Array[Double]): Seq[Int] = (0 until m).map { j =>
      val sv = v.slice(j * dsub, (j + 1) * dsub)
      (0 until k).minBy(c => (sv.zip(cbs(j)(c)).map { case (a, b) =>
        (a - b) * (a - b) }.sum, c))
    }
    val got = inputs.toDF("v")
      .select(PqKernels.encode($"v", cbs).as("codes"))
      .collect().map(_.getSeq[Int](0))
    inputs.zip(got).foreach { case (v, g) =>
      assert(g === refCodes(v.map(_.toDouble)), s"codes for ${v.toSeq}")
    }
    // the planted exact-match picks code 1, not its duplicate 3
    assert(got.last(1) === 1)
    // double-typed vectors take the other accessor path
    val vecsD = inputs.take(5).map(_.map(_.toDouble))
    val gotD = vecsD.toDF("v")
      .select(PqKernels.encode($"v", cbs).as("codes"))
      .collect().map(_.getSeq[Int](0))
    vecsD.zip(gotD).foreach { case (v, g) => assert(g === refCodes(v)) }
    // ADC == lut sum at the reference codes
    val q = Array.fill(m * dsub)(rnd.nextGaussian())
    val lut = PqKernels.adcLut(q, cbs)
    val gotAdc = inputs.toDF("v")
      .select(PqKernels.adcScore(PqKernels.encode($"v", cbs), lut, k))
      .collect().map(_.getDouble(0))
    inputs.zip(gotAdc).foreach { case (v, a) =>
      val want = refCodes(v.map(_.toDouble)).zipWithIndex
        .map { case (c, j) => lut(j * k + c) }.sum
      assert(math.abs(a - want) < 1e-12)
    }
    // null in, null out on both kernels
    val nulls = Seq[Array[Float]](null).toDF("v")
      .select(PqKernels.encode($"v", cbs).as("c"))
    assert(nulls.collect().head.isNullAt(0))
    assert(nulls.select(PqKernels.adcScore($"c", lut, k))
      .collect().head.isNullAt(0))
  }

  test("KmvSketch exact regime: distinct < k reports the exact count, null kth hash") {
    import graft.functions.KmvSketch
    val rows = (1 to 500).map(i => i % 20).toDF("v").repartition(7)
    val got = rows.agg(KmvSketch.sketch(xxhash64($"v"), 64).as("s"))
      .select($"s.n_kept", $"s.kth_hash", $"s.est_distinct").collect().head
    assert(got.getInt(0) === 20)
    assert(got.isNullAt(1))
    assert(got.getDouble(2) === 20.0)
  }

  test("KmvSketch estimation regime: matches the driver KMV reference, " +
      "partition-independent, and the estimate is near the truth") {
    import graft.functions.KmvSketch
    val k = 64
    val n = 3000
    val rnd = new scala.util.Random(11)
    // duplicates included: the sketch must dedup hashes, not count rows
    val vals = Seq.fill(n)(rnd.nextLong(100000))
    val rows = vals.toDF("v")
    // independent driver reference: hash via Spark once (the hash function
    // itself is parity-tested elsewhere/SqlXxh64), then pure-Scala KMV
    val hashes = rows.select(xxhash64($"v").as("h")).collect().map(_.getLong(0))
    val distinctSorted = hashes.distinct.sorted(Ordering.comparatorToOrdering(
      java.lang.Long.compareUnsigned(_: Long, _: Long)))
    val kth = distinctSorted(k - 1)
    val expEst = (k - 1).toDouble /
      ((KmvSketch.unsignedToDouble(kth) + 1.0) / KmvSketch.Two64)
    for (parts <- Seq(1, 5, 13)) {
      val got = rows.repartition(parts)
        .agg(KmvSketch.sketch(xxhash64($"v"), k).as("s"))
        .select($"s.n_kept", $"s.kth_hash", $"s.est_distinct").collect().head
      assert(got.getInt(0) === k)
      assert(got.getLong(1) === kth, s"kth order statistic at parts=$parts")
      assert(got.getDouble(2) === expEst)
    }
    // statistical sanity: within 5 sigma of the true distinct count
    val truth = vals.distinct.size.toDouble
    val sigma = truth / math.sqrt(k - 2.0)
    assert(math.abs(expEst - truth) < 5 * sigma,
      s"est $expEst vs truth $truth (sigma $sigma)")
  }

  test("zorder64: matches a bit-by-bit reference (negatives, extremes), " +
      "preserves interleave order, round-trips through codegen") {
    // independent reference: interleave bit i of each biased input via
    // BigInt string-of-bits arithmetic, nothing shared with the kernel
    def ref(a: Int, b: Int): Long = {
      val au = a.toLong + 2147483648L
      val bu = b.toLong + 2147483648L
      var z = BigInt(0)
      for (i <- 0 until 32) {
        z = z | (BigInt((au >> i) & 1L) << (2 * i))
        z = z | (BigInt((bu >> i) & 1L) << (2 * i + 1))
      }
      (z - (BigInt(1) << 63)).toLong
    }
    val rnd = new scala.util.Random(43)
    val edge = Seq(0, 1, -1, Int.MaxValue, Int.MinValue, 65536, -65536)
    val pairs = (for (a <- edge; b <- edge) yield (a, b)) ++
      Seq.fill(300)((rnd.nextInt(), rnd.nextInt()))
    // driver-side kernel == reference
    for ((a, b) <- pairs)
      assert(graft.functions.ZOrder64.compute(a, b) === ref(a, b), s"($a, $b)")
    // codegen path == reference (non-trivial projection over a real scan)
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b").repartition(4)
    val got = df.select($"id",
      graft.functions.ZOrder64.zorder($"a", $"b").as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      assert(got(i.toLong) === ref(a, b), s"codegen ($a, $b)")
    }
    // signed order of the output == unsigned z-curve order: sorting by the
    // key must equal sorting by the reference interleave as a BigInt
    val sortedByKernel = pairs.distinct.sortBy { case (a, b) =>
      graft.functions.ZOrder64.compute(a, b)
    }
    val sortedByCurve = pairs.distinct.sortBy { case (a, b) =>
      var z = BigInt(0)
      val (au, bu) = (a.toLong + 2147483648L, b.toLong + 2147483648L)
      for (i <- 0 until 32) {
        z = z | (BigInt((au >> i) & 1L) << (2 * i))
        z = z | (BigInt((bu >> i) & 1L) << (2 * i + 1))
      }
      z
    }
    assert(sortedByKernel === sortedByCurve)
  }

  test("NfcNormalize: java-Normalizer parity on random unicode, ASCII and " +
      "already-NFC inputs return the SAME instance, nulls pass through") {
    import org.apache.spark.unsafe.types.UTF8String
    val k = graft.functions.NfcNormalize
    // fast paths return the input object itself — no copy, no Normalizer
    val ascii = UTF8String.fromString("plain ascii text 123")
    assert(k.compute(ascii) eq ascii)
    val nfc = UTF8String.fromString("caf\u00e9 \u00f6l") // already composed
    assert(k.compute(nfc) eq nfc)
    // decomposed -> precomposed
    assert(k.compute(UTF8String.fromString("café")).toString === "café")
    assert(k.compute(UTF8String.fromString("ö")).toString === "ö")
    // randomized parity with java.text.Normalizer over mixed content -
    // sample whole CODEPOINTS (the emoji is a surrogate pair; sampling raw
    // chars would fabricate lone surrogates, which neither UTF-8 nor the
    // JUnit XML reporter can encode)
    val rnd = new scala.util.Random(53)
    val pool = Seq("a", "b", "c", "\u00f3", "\u0308", "\u0301", "\u00e9",
      "\u00f6", "\u4e2d", new String(Character.toChars(0x1F600)), " ")
    val strs = (0 until 200).map { _ =>
      (0 until rnd.nextInt(20)).map(_ => pool(rnd.nextInt(pool.size))).mkString
    }
    for (s <- strs) {
      val want = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      assert(k.compute(UTF8String.fromString(s)).toString === want, s"<$s>")
    }
    // codegen path through a real projection, null included
    val df = (strs.map(Option(_)) :+ None).zipWithIndex
      .map { case (s, i) => (i.toLong, s.orNull) }.toDF("id", "s").repartition(3)
    val got = df.select($"id", k.normalize($"s").as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    strs.zipWithIndex.foreach { case (s, i) =>
      assert(got(i.toLong) ===
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
    assert(got(strs.size.toLong) === null)
  }

  test("QuantizeInt8Expr / DequantizeInt8Expr kernels == the HOF " +
      "formulations bit-for-bit (float + double arrays, degenerate dim, " +
      "out-of-range saturation)") {
    val rnd = new scala.util.Random(59)
    val dim = 24
    val mins = Array.tabulate(dim)(d => if (d == 5) 1.5 else rnd.nextDouble() * -10)
    val maxs = Array.tabulate(dim)(d =>
      if (d == 5) 1.5 else mins(d) + rnd.nextDouble() * 20 + 0.001)
    // out-of-range values included on purpose: both paths must saturate
    val rows = (0 until 300).map { i =>
      (i.toLong, (0 until dim).map(d =>
        (mins(d) + (rnd.nextDouble() * 3 - 1) * (maxs(d) - mins(d))).toFloat))
    }
    val df = rows.toDF("id", "vec").repartition(4)
    // the higher-order-function formulations the codegen kernels replaced,
    // kept here as independent parity references (the HOF's per-element
    // interpretation measured ~2.5 us/vector at dim 64)
    def quantizeInt8Hof(vec: org.apache.spark.sql.Column, mins: Array[Double],
        maxs: Array[Double]): org.apache.spark.sql.Column = {
      val mn = typedLit(mins.toSeq)
      val mx = typedLit(maxs.toSeq)
      transform(vec, (x, i) => {
        val lo = element_at(mn, i + 1)
        val hi = element_at(mx, i + 1)
        when(hi === lo, lit(-128))
          .otherwise(greatest(lit(0), least(lit(255),
            floor((x.cast("double") - lo) * (lit(256.0) / (hi - lo))))) - 128)
          .cast("byte")
      })
    }
    def dequantizeInt8Hof(code: org.apache.spark.sql.Column,
        mins: Array[Double], maxs: Array[Double]): org.apache.spark.sql.Column = {
      val mn = typedLit(mins.toSeq)
      val mx = typedLit(maxs.toSeq)
      transform(code, (q, i) => {
        val lo = element_at(mn, i + 1)
        val hi = element_at(mx, i + 1)
        lo + (q.cast("double") + lit(128.5)) * ((hi - lo) / lit(256.0))
      })
    }
    def codes(c: org.apache.spark.sql.Column) =
      df.select($"id", c.as("q")).as[(Long, Seq[Byte])].collect().toMap
    val k = codes(graft.ops.Similarity.quantizeInt8($"vec", mins, maxs))
    val h = codes(quantizeInt8Hof($"vec", mins, maxs))
    assert(k === h)
    assert(k.values.exists(_.contains(-128.toByte)) &&
      k.values.exists(_.contains(127.toByte)), "saturation must be exercised")
    def deq(c: org.apache.spark.sql.Column) =
      df.select($"id", c.as("x")).as[(Long, Seq[Double])].collect().toMap
    val qc = graft.ops.Similarity.quantizeInt8($"vec", mins, maxs)
    assert(deq(graft.ops.Similarity.dequantizeInt8(qc, mins, maxs)) ===
      deq(dequantizeInt8Hof(qc, mins, maxs)))
    // double-element arrays take the other accessor path
    val ddf = rows.map { case (id, v) => (id, v.map(_.toDouble)) }
      .toDF("id", "vec").repartition(3)
    val kd = ddf.select($"id", graft.ops.Similarity.quantizeInt8($"vec", mins, maxs).as("q"))
      .as[(Long, Seq[Byte])].collect().toMap
    val hd = ddf.select($"id", quantizeInt8Hof($"vec", mins, maxs).as("q"))
      .as[(Long, Seq[Byte])].collect().toMap
    assert(kd === hd)
  }

  test("large Ontology fields compile to the broadcast-set expression") {
    val terms = (1 to 20000).map(i => s"T:$i").toSet
    val cl = Checklist("big", Seq(FieldDef("x", OntologyT(terms, "big"))))
    val df = Seq("T:5", "T:99999").toDF("x")
    val v = graft.engine.Validator.validate(df, cl,
      graft.engine.Validator.Options(rowIdCol = Some("x")))
    val passed = v.select("passed").collect().map(_.getBoolean(0))
    assert(passed.toSeq === Seq(true, false))
    // the plan must NOT contain a 20k-literal IN list
    val plan = v.queryExecution.optimizedPlan.toString
    assert(plan.contains("in_broadcast_set") || !plan.contains("T:19999"))
  }

  test("scalar kernels: hand values and NULL in, NULL out") {
    import graft.functions._
    val r = Seq(1).toDF("one").select(
      Iso8601.valid(lit("2014-W49-3")), Iso8601.valid(lit("2014-13-04")),
      Iso8601.valid(lit(null).cast("string")),
      VectorKernels.cosine(typedLit(Seq(1.0, 0.0)), typedLit(Seq(1.0, 0.0))),
      VectorKernels.cosine(typedLit(Seq(1.0, 0.0)), typedLit(Seq(0.0, 2.0))),
      VectorKernels.sigAgreement(typedLit(Seq(1L, 2L, 3L)), typedLit(Seq(1L, 9L, 3L))),
      VectorKernels.simhashPack(typedLit(Seq(5L))),
      IsBlank(lit("")), IsBlank(lit(" \t")), IsBlank(lit("x")),
      ZOrder64.zorder(lit(3), lit(5)), ZOrder64.zorder(lit(null).cast("int"), lit(1)),
      AcMultiLiteralStats.stats(lit("aba bad abab"), Seq("ab", "bad")),
      AcMultiLiteralStats.stats(lit(null).cast("string"), Seq("x")),
      round(CharEntropy.entropy(lit("aabb")), 6)).collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.isNullAt(2))
    assert(r.getDouble(3) === 1.0 && r.getDouble(4) === 0.0)
    assert(r.getInt(5) === 2)
    assert(r.getLong(6) === 5L) // single hash: sign vector == the hash itself
    assert(r.getBoolean(7) && r.getBoolean(8) && !r.getBoolean(9))
    assert(r.getLong(10) === ZOrder64.compute(3, 5) && r.isNullAt(11))
    // both literals present; 'ab' x3 (greedy non-overlap) + 'bad' x1
    assert(r.getStruct(12).getInt(0) === 2 && r.getStruct(12).getLong(1) === 4L)
    assert(r.isNullAt(13))
    assert(r.getDouble(14) === 1.0)
  }

  test("aggregate kernels: top-k over partial aggregation and int input; " +
      "capped collect NULLs out an oversized group") {
    import graft.functions.{CollectSigsCapped, TopKByScore}
    def pairs(r: org.apache.spark.sql.Row, i: Int) =
      r.getSeq[org.apache.spark.sql.Row](i).map(x => (x.getDouble(0), x.getLong(1)))
    val scored = Seq((1, 0.5, 10L), (1, 0.9, 4L), (1, 0.7, 1L), (2, 0.1, 7L),
      (2, 0.3, 9L)).toDF("g", "s", "id").repartition(3)
    val tk = scored.groupBy("g").agg(TopKByScore.topK($"s", $"id", 2).as("tk"))
      .orderBy("g").collect().map(r => r.getInt(0) -> pairs(r, 1))
    assert(tk.toSeq === Seq(
      1 -> Seq((0.9, 4L), (0.7, 1L)),
      2 -> Seq((0.3, 9L), (0.1, 7L))))
    // int score and id cast like doubles and longs
    val ints = Seq((5, 10), (9, 4), (7, 1)).toDF("s", "id")
      .agg(TopKByScore.topK($"s", $"id", 2)).collect().head
    assert(pairs(ints, 0) === Seq((9.0, 4L), (7.0, 1L)))
    // group 1 (2 members, sorted by id) kept; group 2 (3 > cap) is NULL
    val got = Seq((1, 5L, Seq(1L, 2L)), (1, 3L, Seq(9L)),
      (2, 1L, Seq(0L)), (2, 2L, Seq(0L)), (2, 3L, Seq(0L)))
      .toDF("g", "id", "sig").repartition(2)
      .groupBy("g").agg(CollectSigsCapped.collect($"id", $"sig", 2).as("m"))
      .orderBy("g").collect()
    val m1 = got(0).getSeq[org.apache.spark.sql.Row](1)
      .map(x => (x.getLong(0), x.getSeq[Long](1)))
    assert(m1 === Seq((3L, Seq(9L)), (5L, Seq(1L, 2L))))
    assert(got(1).isNullAt(1))
  }
}
