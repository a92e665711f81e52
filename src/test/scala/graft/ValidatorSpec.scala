package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model._
import graft.model.FieldType._
import graft.engine.Validator

/**
 * Behavioral-contract tests: each block mirrors a reference fixture family
 * (manifest CSV + checklist config) and asserts the same verdict vector and
 * error-message shapes the reference's own tests assert.
 * Fixture data is recreated inline from the documented behaviors
 * (see FIXTURES.md §2; reference tests t/04_validator.t, t/05_validation_plugins.t,
 * t/06_relationships.t, t/09_unknown.t).
 */
class ValidatorSpec extends SparkSuite {
  import Validator._

  /** Build a manifest-style DataFrame from rows of Option[String] cells,
   * with the 1-based `row_id` in row order that ManifestReader appends. */
  def manifest(cols: Seq[String], rows: Seq[Seq[Option[String]]]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(cols.map(StructField(_, StringType)) :+
      StructField(RowId, LongType, nullable = false))
    val rdd = spark.sparkContext.parallelize(rows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.map(_.orNull) :+ (i + 1L)) }, 2)
    spark.createDataFrame(rdd, schema)
  }

  def S(s: String): Option[String] = Some(s)
  val N: Option[String] = None

  /** error strings indexed by 1-based row id (absent = row passed). */
  def errorsByRow(validated: DataFrame): Map[Long, String] =
    validated.filter(!col(PassedCol)).select(RowId, ErrorCol)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  // --- t/04_validator.t: happy path + invalid Bool -------------------------
  val checklist04 = Checklist("one", Seq(
    FieldDef("one", BoolT, description = Some("Testing description")),
    FieldDef("two", StrT())))

  test("04: working manifest is valid") {
    val df = manifest(Seq("one", "two"), Seq(Seq(S("1"), S("two")), Seq(S("0"), S("two"))))
    val v = validate(df, checklist04)
    assert(v.filter(!col(PassedCol)).count() === 0)
  }

  test("04: broken manifest -> 1 invalid row with reference message") {
    val df = manifest(Seq("one", "two"),
      Seq(Seq(S("1"), S("two")), Seq(S("not_a_bool"), S("two"))))
    val errs = errorsByRow(validate(df, checklist04))
    assert(errs.keySet === Set(2L))
    assert(errs(2L) === "[errors found on row 2] [value in field 'one' is not valid]")
  }

  test("04: verbose errors append field description") {
    val df = manifest(Seq("one", "two"), Seq(Seq(S("nope"), S("two"))))
    val errs = errorsByRow(validate(df, checklist04, Options(verboseErrors = true)))
    assert(errs(1L) ===
      "[errors found on row 1] [value in field 'one' is not valid; field description: 'Testing description']")
  }

  // --- t/05_validation_plugins.t: per-type truth tables --------------------
  def stateOf(ft: FieldType, value: Option[String],
      acceptsUnknown: Boolean = false, unknowns: Seq[String] = Nil): Byte = {
    val cl = Checklist("t", Seq(FieldDef("v", ft, acceptsUnknown = acceptsUnknown)),
      unknownTerms = unknowns)
    val compiled = graft.compile.ChecklistCompiler.compile(cl)
    val df = manifest(Seq("v"), Seq(Seq(value)))
    df.select(compiled.states.head._2.as("s")).collect().head.getByte(0)
  }

  test("05: Int truth table") {
    for (v <- Seq("42", "0", "-1", "-10")) assert(stateOf(IntT(), S(v)) === FieldState.Valid, v)
    for (v <- Seq("--1", "-", "a", "1.5", "+1")) assert(stateOf(IntT(), S(v)) === FieldState.Invalid, v)
    // empty/whitespace cells skip type validation (Validator.pm:238-245)
    assert(stateOf(IntT(), S(" ")) === FieldState.Skipped)
    assert(stateOf(IntT(), N) === FieldState.Skipped)
    // bounds are inclusive
    assert(stateOf(IntT(min = Some(5), max = Some(10)), S("5")) === FieldState.Valid)
    assert(stateOf(IntT(min = Some(5), max = Some(10)), S("10")) === FieldState.Valid)
    assert(stateOf(IntT(min = Some(5), max = Some(10)), S("4")) === FieldState.Invalid)
    assert(stateOf(IntT(min = Some(5), max = Some(10)), S("11")) === FieldState.Invalid)
    assert(stateOf(IntT(max = Some(10)), S("27")) === FieldState.Invalid)
    assert(stateOf(IntT(min = Some(5)), S("3")) === FieldState.Invalid)
  }

  test("05: Int bounds judge a 41-digit value by its sign under ANSI, not abort") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val pos = "9" * 41
      val neg = "-" + pos
      // Perl's numeric compare (Plugin/Int.pm:14-27): a huge positive
      // meets any min and fails any max; a huge negative the reverse
      assert(stateOf(IntT(min = Some(5)), S(pos)) === FieldState.Valid)
      assert(stateOf(IntT(max = Some(10)), S(pos)) === FieldState.Invalid)
      assert(stateOf(IntT(min = Some(5), max = Some(10)), S(pos)) === FieldState.Invalid)
      assert(stateOf(IntT(min = Some(5)), S(neg)) === FieldState.Invalid)
      assert(stateOf(IntT(max = Some(10)), S(neg)) === FieldState.Valid)
      assert(stateOf(IntT(min = Some(5), max = Some(10)), S(neg)) === FieldState.Invalid)
      assert(stateOf(IntT(), S(pos)) === FieldState.Valid)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("05: Str truth table incl. unanchored regex") {
    for (v <- Seq("a", "abc", "a b", "a:b", "0")) assert(stateOf(StrT(), S(v)) === FieldState.Valid, v)
    assert(stateOf(StrT(), S(" ")) === FieldState.Skipped) // empty-cell skip wins
    assert(stateOf(StrT(Some("^\\d+$")), S("123")) === FieldState.Valid)
    assert(stateOf(StrT(Some("^\\d+$")), S("12a")) === FieldState.Invalid)
    // unanchored pattern has substring semantics, like Perl m//
    assert(stateOf(StrT(Some("\\d")), S("ab1cd")) === FieldState.Valid)
  }

  test("05: Enum truth table (case-sensitive)") {
    assert(stateOf(EnumT(Seq("ABC", "DEF")), S("ABC")) === FieldState.Valid)
    assert(stateOf(EnumT(Seq("ABC")), S("ABC")) === FieldState.Valid)
    assert(stateOf(EnumT(Seq("ABC", "DEF")), S("abc")) === FieldState.Invalid)
  }

  test("05: DateTime truth table") {
    for (v <- Seq("2014-12-04", "2014-12-04T12:28:33+00:00", "20141204T122833"))
      assert(stateOf(DateTimeT, S(v)) === FieldState.Valid, v)
    for (v <- Seq("04-12-14", "wibble", "2014-13-04"))
      assert(stateOf(DateTimeT, S(v)) === FieldState.Invalid, v)
  }

  test("05: DateTime extended ISO-8601 family (week/ordinal/basic/fraction)") {
    val valid = Seq(
      "2014-W49-3", "2014W493", "2014-W49", // week dates
      "2014-338", "2014338", // ordinal
      "20141204", "2014-12", "2014", // basic / reduced precision
      "2014-12-04T12:28", "2014-12-04T12:28:33.123456",
      "2014-12-04T12:30,5", // fractional minutes, comma separator
      "2014-12-04T12Z", "20141204T1228+0100", "2014-12-04T12:28:33-05:00")
    for (v <- valid) assert(stateOf(DateTimeT, S(v)) === FieldState.Valid, v)
    val invalid = Seq(
      "2014-02-30", "2013-366", "2014-W54-1", "2014-W49-8", // calendar-invalid
      "2014-12-04T24:01", "2014-12-04T12:61", "2014-12-04T12:28:61",
      "2014-12-04T", "2014-12-04T12:28:33+19:00", "201412", "14-12-04")
    for (v <- invalid) assert(stateOf(DateTimeT, S(v)) === FieldState.Invalid, v)
    // leap-year ordinal/calendar boundaries
    assert(stateOf(DateTimeT, S("2016-366")) === FieldState.Valid)
    assert(stateOf(DateTimeT, S("2016-02-29")) === FieldState.Valid)
    assert(stateOf(DateTimeT, S("2015-02-29")) === FieldState.Invalid)
  }

  test("05: Str AMR / author-list / MD5 / UUID regexes (05_str.conf, Types.pm)") {
    // t/data/05_str.conf:16-19 — the AMR string regex; truth rows from
    // t/data/05_str.csv (row 8 is the one invalid row)
    val amr = StrT(Some("^((([A-Za-z\\d\\- ]+);([SIR]);(\\d+)(;(\\w+))?),? *)+$"))
    for (v <- Seq(
      "erythromycin;S;40,tetracyclin;R;50;Peru, piperacillin-tazobactam;R;16",
      "tetracyclin;S;40,erythromycin;R;50;Peru"))
      assert(stateOf(amr, S(v)) === FieldState.Valid, v)
    for (v <- Seq(
      "#erythromycin;S;40,tetracyclin;R;50;Peru, piperacillin-tazobactam;R;16",
      "erythromycin;X;40", "erythromycin;S"))
      assert(stateOf(amr, S(v)) === FieldState.Invalid, v)
    // t/data/05_str.conf:10-13 — author-list regex incl. hyphen/apostrophe
    val authors = StrT(Some("^(([A-Za-z\\-']{2,}) +([A-Za-z]+),? *)+$"))
    for (v <- Seq("Tate JG, Other AN, Else SO", "Hyphen-Ated N", "O'Reilly M", "Tate JG"))
      assert(stateOf(authors, S(v)) === FieldState.Valid, v)
    assert(stateOf(authors, S("X Y,")) === FieldState.Invalid)
    // Types.pm:32-40 — MD5 / UUID subtypes (case-insensitive m//i)
    val md5 = StrT(Some("(?i)^[0-9a-f]{32}$"))
    assert(stateOf(md5, S("8fb372b3d14392b8a21dd296dc7d9f5a")) === FieldState.Valid)
    assert(stateOf(md5, S("8FB372B3D14392B8A21DD296DC7D9F5A")) === FieldState.Valid)
    assert(stateOf(md5, S("8fb372b3d14392b8a21dd296dc7d9f5")) === FieldState.Invalid)
    assert(stateOf(md5, S("zfb372b3d14392b8a21dd296dc7d9f5a")) === FieldState.Invalid)
    val uuid = StrT(Some("(?i)^[0-9a-f]{8}-([0-9a-f]{4}-){3}[0-9a-f]{12}$"))
    assert(stateOf(uuid, S("4162F712-1DD2-11B2-B17E-C09EFE1DC403")) === FieldState.Valid)
    assert(stateOf(uuid, S("4162F712-1DD2-11B2-B17E")) === FieldState.Invalid)
  }

  test("empty-cell semantics: tab/newline-only cells skip validation") {
    // reference: Validator.pm:238 m/^\s*$/ — NOT just the space character
    for (v <- Seq("\t", "\n", "\r\n", " \t ", "\f"))
      assert(stateOf(IntT(), S(v)) === FieldState.Skipped, v.map(_.toInt))
    // and a required field raises the required error for them
    val cl = Checklist("t", Seq(FieldDef("v", IntT(), required = true)))
    val errs = errorsByRow(validate(manifest(Seq("v"), Seq(Seq(S("\t")))), cl))
    assert(errs(1L) === "[errors found on row 1] ['v' is a required field]")
  }

  test("required + `unknown` field-def key suppresses the required error (Validator.pm:241)") {
    val cl = Checklist("t", Seq(
      FieldDef("u", IntT(), required = true, unknownFlag = true),
      FieldDef("r", IntT(), required = true)))
    val v = validate(manifest(Seq("u", "r"),
      Seq(Seq(N, N), Seq(S("bad"), S("3")))), cl)
    val errs = errorsByRow(v)
    // row 1: both empty -> only 'r' raises required
    assert(errs(1L) === "[errors found on row 1] ['r' is a required field]")
    // row 2: non-empty values still validate normally
    assert(errs(2L) === "[errors found on row 2] [value in field 'u' is not valid]")
  }

  test("05: Bool truth table (case-insensitive)") {
    for (v <- Seq("1", "yes", "YES", "true", "0", "no", "NO", "false", "True"))
      assert(stateOf(BoolT, S(v)) === FieldState.Valid, v)
    for (v <- Seq("2", "abc", "yess")) assert(stateOf(BoolT, S(v)) === FieldState.Invalid, v)
  }

  test("05: Ontology / Taxonomy membership") {
    val onto = OntologyT(Set("ENVO:00002297", "ENVO:00002148"), "envo")
    assert(stateOf(onto, S("ENVO:00002297")) === FieldState.Valid)
    assert(stateOf(onto, S("ENVO:99999999")) === FieldState.Invalid)
    val tax = TaxonomyT(ids = Set("9606", "10090"), names = Set("Homo sapiens", "Mus musculus"))
    assert(stateOf(tax, S("9606")) === FieldState.Valid)
    assert(stateOf(tax, S("Homo sapiens")) === FieldState.Valid)
    assert(stateOf(tax, S("12345")) === FieldState.Invalid)
    assert(stateOf(tax, S("Rattus rattus")) === FieldState.Invalid)
  }

  test("05: quote stripping happens before validation (PluginRole.pm:29)") {
    assert(stateOf(IntT(), S("\"42\"")) === FieldState.Valid)
  }

  // --- t/05 int fixture: named-field errors --------------------------------
  test("05: int manifest - each row invalid in its named field") {
    val cl = Checklist("int", Seq(
      FieldDef("int", IntT()),
      FieldDef("top_limit", IntT(max = Some(10))),
      FieldDef("bottom_limit", IntT(min = Some(5))),
      FieldDef("bound", IntT(min = Some(5), max = Some(10)))))
    val df = manifest(Seq("int", "top_limit", "bottom_limit", "bound"), Seq(
      Seq(S("x"), S("1"), S("6"), S("7")),  // row 1: 'int' fails
      Seq(S("1"), S("11"), S("6"), S("7")), // row 2: top_limit > max
      Seq(S("1"), S("1"), S("4"), S("7")),  // row 3: bottom_limit < min
      Seq(S("1"), S("1"), S("6"), S("4")),  // row 4: bound < lower
      Seq(S("1"), S("1"), S("6"), S("11")) // row 5: bound > upper
    ))
    val errs = errorsByRow(validate(df, cl))
    assert(errs(1L).contains("value in field 'int' is not valid"))
    assert(errs(2L).contains("value in field 'top_limit' is not valid"))
    assert(errs(3L).contains("value in field 'bottom_limit' is not valid"))
    assert(errs(4L).contains("value in field 'bound' is not valid"))
    assert(errs(5L).contains("value in field 'bound' is not valid"))
  }

  // --- t/06_relationships.t: if / one_of / some_of -------------------------
  val checklist06if = Checklist("if",
    fields = Seq(
      FieldDef("one", BoolT), FieldDef("two", StrT()), FieldDef("three", StrT()),
      FieldDef("four", StrT()), FieldDef("five", StrT()), FieldDef("six", BoolT),
      FieldDef("seven", StrT()), FieldDef("eight", StrT()), FieldDef("nine", StrT())),
    dependencies = Dependencies(ifs = Seq(
      IfDep("one", thens = Seq("two", "three"), elses = Seq("four", "five")),
      IfDep("six", thens = Seq("seven"), elses = Seq("eight", "nine")))))

  val csv06if: Seq[Seq[Option[String]]] = Seq(
    Seq(S("1"), S("b"), S("c"), N, N, S("1"), S("g"), N, N),
    Seq(N, S("b"), S("c"), S("d"), S("e"), S("1"), S("g"), N, N),
    Seq(S("1"), N, N, N, N, S("1"), S("g"), N, N),
    Seq(S("1"), S("b"), N, N, N, S("1"), S("g"), N, N),
    Seq(S("1"), N, S("c"), N, N, S("1"), S("g"), N, N),
    Seq(S("0"), N, N, S("d"), S("e"), S("1"), S("g"), N, N),
    Seq(S("0"), N, N, N, N, S("1"), S("g"), N, N),
    Seq(S("0"), N, N, S("d"), N, S("1"), S("g"), N, N),
    Seq(S("0"), N, N, N, S("e"), S("1"), S("g"), N, N),
    Seq(S("1"), S("b"), S("c"), S("d"), N, S("1"), S("g"), N, N),
    Seq(S("0"), S("b"), N, S("d"), S("e"), S("1"), S("g"), N, N),
    Seq(S("1"), S("b"), S("c"), N, N, S("1"), S("g"), N, N),
    Seq(S("1"), S("b"), S("c"), N, N, S("0"), N, S("h"), S("i")),
    Seq(S("1"), S("b"), S("c"), N, N, S("1"), N, S("h"), N),
    Seq(S("1"), S("b"), S("c"), N, N, S("1"), S("g"), N, N),
    Seq(S("1"), S("b"), S("c"), N, N, S("yes"), S("g"), N, N),
    Seq(S("1"), S("b"), S("c"), N, N, S("no"), N, S("h"), S("i")))

  test("06: if dependencies - 10 invalid rows with reference messages") {
    val df = manifest(checklist06if.fieldNames, csv06if)
    val errs = errorsByRow(validate(df, checklist06if))
    assert(errs.keySet === Set(2L, 3L, 4L, 5L, 7L, 8L, 9L, 10L, 11L, 14L))
    assert(errs(2L).matches(raw"^\[errors found on row 2] \[field 'one' .*?]$$"))
    assert(errs(3L).matches(raw"^\[errors found on row 3] \[field 'two' .*?] \[field 'three'.*"))
    assert(errs(4L).matches(raw"^\[errors found on row 4] \[field 'three' .*?]$$"))
    assert(errs(5L).matches(raw"^\[errors found on row 5] \[field 'two' .*?]$$"))
    assert(errs(7L).matches(raw"^\[errors found on row 7] \[field 'four' .*? \[field 'five'.*"))
    assert(errs(8L).matches(raw"^\[errors found on row 8] \[field 'five' .*?].*"))
    assert(errs(9L).matches(raw"^\[errors found on row 9] \[field 'four' .*?].*"))
    assert(errs(10L).matches(raw"^\[errors found on row 10] \[field 'four' should not be completed.*?].*"))
    assert(errs(11L).matches(raw"^\[errors found on row 11] \[field 'two' should not be completed.*?].*"))
    assert(errs(14L).matches(raw"^\[errors found on row 14] \[field 'seven'.*? \[field 'eight'.*?]$$"))
    // message fidelity incl. the reference's 'statisfy' typo (Validator.pm:420)
    assert(errs(2L) ===
      "[errors found on row 2] [field 'one' must be valid in order to statisfy a dependency]")
  }

  test("06: if guard must be declared Bool (compile-time BadConfig)") {
    val bad = checklist06if.copy(fields =
      checklist06if.fields.map(f => if (f.name == "one") f.copy(ftype = StrT()) else f))
    val df = manifest(bad.fieldNames, csv06if.take(1))
    val e = intercept[IllegalArgumentException] { validate(df, bad) }
    assert(e.getMessage.contains("must have type Bool"))
  }

  val checklist06grp: Dependencies => Checklist = deps => Checklist("grp",
    fields = Seq(
      FieldDef("one", IntT(), required = true), FieldDef("two", IntT()),
      FieldDef("three", IntT()), FieldDef("four", IntT()), FieldDef("five", IntT())),
    dependencies = deps)

  test("06: one_of groups - 4 invalid rows, found-count in message") {
    val cl = checklist06grp(Dependencies(oneOf = Seq(
      GroupDep("group_one", Seq("one", "two")),
      GroupDep("group_two", Seq("three", "four", "five")))))
    val rows = Seq(
      Seq(S("1"), N, S("1"), N, N),
      Seq(S("1"), S("1"), S("1"), N, N),
      Seq(N, N, S("1"), N, N),
      Seq(S("1"), N, S("1"), S("1"), N),
      Seq(S("1"), N, S("1"), S("1"), S("1")),
      Seq(S("1"), N, N, N, N))
    val errs = errorsByRow(validate(manifest(cl.fieldNames, rows), cl))
    assert(errs.keySet === Set(2L, 3L, 4L, 5L))
    assert(errs(2L).matches(raw"^\[errors found on row 2] \[exactly one field out of 'one', 'two' should.*?]$$"))
    assert(errs(3L).matches(raw"^\[errors found on row 3] \['one' is a required field]\s+\[exactly one field out of 'one', 'two' should.*?]$$"))
    assert(errs(4L).matches(raw"^\[errors found on row 4].*?\[exactly one field out of 'three'.*?found 2.*?]$$"))
    assert(errs(5L).matches(raw".*\[exactly one field out of 'three'.*?found 3.*?]$$"))
    assert(errs(2L) ===
      "[errors found on row 2] [exactly one field out of 'one', 'two' should be completed (found 2) and not 'unknown']")
  }

  test("06: some_of groups - 2 invalid rows incl. reference's missing-space message") {
    val cl = checklist06grp(Dependencies(someOf = Seq(
      GroupDep("group_one", Seq("one", "two")),
      GroupDep("group_two", Seq("three", "four", "five")))))
    val rows = Seq(
      Seq(S("1"), N, S("1"), N, N),
      Seq(S("1"), S("1"), S("1"), N, N),
      Seq(N, N, S("1"), N, N),
      Seq(N, S("1"), S("1"), N, N),
      Seq(S("1"), N, N, N, N),
      Seq(S("1"), N, S("1"), S("1"), S("1")))
    val errs = errorsByRow(validate(manifest(cl.fieldNames, rows), cl))
    assert(errs.keySet === Set(3L, 4L))
    assert(errs(3L).matches(raw"^\[errors found on row 3] \['one' is a required field]\s+\[at least one field out of 'one'.*?]$$"))
    assert(errs(4L) === "[errors found on row 4] ['one' is a required field]")
    // exact some_of message with the reference's missing space (Validator.pm:325-326)
    assert(errs(3L).endsWith("[at least one field out of 'one', 'two'should be completed and not 'unknown']"))
  }

  // --- t/09_unknown.t: tri-state unknown handling --------------------------
  val checklist09 = Checklist("unknown",
    fields = Seq(
      FieldDef("one", IntT()),
      FieldDef("two", IntT(), required = true, acceptsUnknown = true)),
    unknownTerms = Seq("not available", "unknown"))

  test("09: simple unknown terms - 2 invalid rows") {
    val rows = Seq(
      Seq(S("1"), S("1")),
      Seq(S("1"), S("not available")),
      Seq(S("1"), S("not available")),
      Seq(S("1"), S("unknown")),
      Seq(S("1"), S("pass")),
      Seq(S("not available"), S("1")))
    val errs = errorsByRow(validate(manifest(checklist09.fieldNames, rows), checklist09))
    assert(errs.keySet === Set(5L, 6L))
    assert(errs(5L).startsWith("[errors found on row 5] [value in field 'two' is not valid]"))
    assert(errs(6L).startsWith("[errors found on row 6] [value in field 'one' is not valid]"))
  }

  test("09: unknown guard skips if-rule; unknown not counted in groups") {
    // if-guard accepts unknown: guard unknown => rule skipped entirely
    val cl = Checklist("u-if",
      fields = Seq(
        FieldDef("g", BoolT, acceptsUnknown = true),
        FieldDef("t", StrT()), FieldDef("e", StrT())),
      dependencies = Dependencies(ifs = Seq(IfDep("g", Seq("t"), Seq("e")))),
      unknownTerms = Seq("unknown"))
    val rows = Seq(
      Seq(S("unknown"), N, N),     // guard unknown -> no error
      Seq(S("unknown"), S("x"), N), // guard unknown -> still no error
      Seq(S("1"), N, N),           // guard true, then missing -> error
      Seq(S("bad"), N, N))         // guard invalid -> guard error
    val errs = errorsByRow(validate(manifest(cl.fieldNames, rows), cl))
    assert(errs.keySet === Set(3L, 4L))
    assert(errs(3L).contains("[field 't' must be valid if field 'g' is set to true]"))
    assert(errs(4L).contains("[value in field 'g' is not valid]"))
    assert(errs(4L).contains("[field 'g' must be valid in order to statisfy a dependency]"))

    // one_of: unknowns not completed; all-unknown group skipped (t/09 one_of: 0 invalid)
    val clOne = Checklist("u-one",
      fields = Seq(
        FieldDef("a", IntT(), required = true, acceptsUnknown = true),
        FieldDef("b", IntT(), acceptsUnknown = true),
        FieldDef("c", IntT(), acceptsUnknown = true),
        FieldDef("d", IntT(), acceptsUnknown = true)),
      dependencies = Dependencies(oneOf = Seq(
        GroupDep("g1", Seq("a", "b")), GroupDep("g2", Seq("c", "d")))),
      unknownTerms = Seq("unknown"))
    val rowsOne = Seq(
      Seq(S("1"), N, S("2"), N),
      Seq(S("unknown"), S("1"), S("2"), N),
      Seq(S("1"), S("unknown"), S("2"), N),
      Seq(S("unknown"), S("unknown"), S("2"), N),
      Seq(S("unknown"), S("1"), S("unknown"), S("2")))
    assert(errorsByRow(validate(manifest(clOne.fieldNames, rowsOne), clOne)).isEmpty)

    // some_of: only-unknowns in a group with a required field => error (t/09 some_of: 1 invalid)
    val clSome = clOne.copy(dependencies = Dependencies(someOf = Seq(
      GroupDep("g1", Seq("a", "b")))))
    val rowsSome = Seq(
      Seq(S("1"), N, N, N),
      Seq(S("unknown"), S("unknown"), N, N), // all unknown -> skip... but
      Seq(S("unknown"), S("1"), N, N))
    // NB reference: all-unknown group IS skipped (num_unknown == num_total).
    // In t/09_unknown_some_of the erroring row mixes unknown + empty.
    val rowsSome2 = Seq(
      Seq(S("1"), N, N, N),
      Seq(S("unknown"), N, N, N), // unknown + empty: not all-unknown, 0 completed, 'a' required -> error
      Seq(S("unknown"), S("1"), N, N))
    assert(errorsByRow(validate(manifest(clSome.fieldNames, rowsSome), clSome)).isEmpty)
    val errsSome = errorsByRow(validate(manifest(clSome.fieldNames, rowsSome2), clSome))
    assert(errsSome.keySet === Set(2L))
    assert(errsSome(2L).contains("[at least one field out of 'a', 'b'should be completed"))
  }

  // --- violation rows + invariants ----------------------------------------
  test("rowIdCol=None reads the input's row_id; without one it fails, naming row_id") {
    val cl = Checklist("t", Seq(FieldDef("v", StrT())))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      validate(spark.range(3).selectExpr("cast(id as string) as v"), cl)
    }
    assert(e.getMessage.contains(RowId), e.getMessage)
    val ided = validate(manifest(Seq("v"), Seq(Seq(S("x")), Seq(S("y")))), cl)
    assert(ided.select(RowId).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("violation rows carry (row_id, field, rule_id, message)") {
    val df = manifest(Seq("one", "two"),
      Seq(Seq(S("1"), S("two")), Seq(S("not_a_bool"), N)))
    val cl = Checklist("c", Seq(
      FieldDef("one", BoolT), FieldDef("two", StrT(), required = true)))
    val vr = Validator.violationRows(validate(df, cl))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(vr.toSet === Set(
      (2L, "one", RuleIds.FieldInvalid, "[value in field 'one' is not valid]"),
      (2L, "two", RuleIds.Required, "['two' is a required field]")))
  }

  test("content sha256 invariant column") {
    val df = manifest(Seq("one", "two"), Seq(Seq(S("1"), S("hello"))))
    val v = validate(df, checklist04, Options(contentCol = Some("two")))
    val got = v.select(ShaCol).collect().head.getString(0)
    val expect = java.security.MessageDigest.getInstance("SHA-256")
      .digest("hello".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === expect)
  }

  test("output schema: input columns, then row_id, violations, " +
      "content_sha256, passed and error, with their nullability") {
    import org.apache.spark.sql.types._
    val df = manifest(Seq("one", "two"), Seq(Seq(S("1"), S("hello"))))
    val v = validate(df, checklist04, Options(contentCol = Some("two")))
    val viol = StructType(Seq("field", "rule_id", "message").map(StructField(_, StringType)))
    assert(v.schema.drop(2) === Seq(
      StructField(RowId, LongType, nullable = false),
      StructField(ViolationsCol, ArrayType(viol, containsNull = false), nullable = false),
      StructField(ShaCol, StringType),
      StructField(PassedCol, BooleanType, nullable = false),
      StructField(ErrorCol, StringType)))
  }

  test("verdicts invariant under partition count") {
    val rows = csv06if
    val a = errorsByRow(validate(manifest(checklist06if.fieldNames, rows), checklist06if))
    // the ids travel with their rows through the repartition
    val df1 = manifest(checklist06if.fieldNames, rows).repartition(1)
    val b = errorsByRow(validate(df1, checklist06if))
    assert(a === b)
  }

  // --- the reference fixture conformance sweep -----------------------------
  //
  // One grep-able table walking every ported (config, manifest) fixture pair
  // VERBATIM — config text through ChecklistConfig.parse (S2), CSV text
  // through ManifestReader.readCsv (S1), verdicts through the compiled
  // validator — asserting the exact invalid-row count AND the exact invalid
  // row-id set the reference's own tests pin:
  //   t/04_validator.t:35-39        04_broken -> 2 rows, 1 invalid (row 2)
  //   t/06_relationships.t:25-26    06_if     -> 10 invalid
  //   t/06_relationships.t:44-45    06_one_of -> 4 invalid
  //   t/06_relationships.t:58-59    06_some_of-> 2 invalid
  //   t/09_unknown.t:18-19          simple    -> 2 invalid
  //   t/09_unknown.t:33-34          if        -> 3 invalid
  //   t/09_unknown.t:50-51          one_of    -> 0 invalid
  //   t/09_unknown.t:63-64          some_of   -> 1 invalid
  // (invalid row ids read off each test's row_errors[] like/undef pattern)

  private def sweepTmp(content: String): String = {
    val p = java.nio.file.Files.createTempFile("graft_fixture", ".csv")
    java.nio.file.Files.writeString(p, content)
    p.toFile.deleteOnExit()
    p.toString
  }

  private val conf04Sweep =
    """<checklist one>
      |  header_row "one,two"
      |  <field>
      |    name         one
      |    description  Testing description
      |    type         Bool
      |  </field>
      |  <field>
      |    name         two
      |    type         Str
      |  </field>
      |</checklist>""".stripMargin

  private val conf06If =
    """<checklist if>
      |  header_row "one,two,three,four,five,six,seven,eight,nine"
      |  <dependencies>
      |    <if one>
      |      then two
      |      then three
      |      else four
      |      else five
      |    </if>
      |    <if six>
      |      then seven
      |      else eight
      |      else nine
      |    </if>
      |  </dependencies>
      |  <field>
      |    name  one
      |    type  Bool
      |  </field>
      |  <field>
      |    name  two
      |    type  Str
      |  </field>
      |  <field>
      |    name  three
      |    type  Str
      |  </field>
      |  <field>
      |    name  four
      |    type  Str
      |  </field>
      |  <field>
      |    name  five
      |    type  Str
      |  </field>
      |  <field>
      |    name  six
      |    type  Bool
      |  </field>
      |  <field>
      |    name  seven
      |    type  Str
      |  </field>
      |  <field>
      |    name  eight
      |    type  Str
      |  </field>
      |  <field>
      |    name  nine
      |    type  Str
      |  </field>
      |</checklist>""".stripMargin

  private def confGroups(tag: String, block: String) =
    s"""<checklist $tag>
       |  header_row one,two,three,four,five
       |  <dependencies>
       |    <$block>
       |      group_one one
       |      group_one two
       |      group_two three
       |      group_two four
       |      group_two five
       |    </$block>
       |  </dependencies>
       |  <field>
       |    name     one
       |    type     Int
       |    required 1
       |  </field>
       |  <field>
       |    name     two
       |    type     Int
       |  </field>
       |  <field>
       |    name     three
       |    type     Int
       |  </field>
       |  <field>
       |    name     four
       |    type     Int
       |  </field>
       |  <field>
       |    name     five
       |    type     Int
       |  </field>
       |</checklist>""".stripMargin

  private val conf09Unknown =
    """<checklist unknown>
      |  header_row one,two
      |  unknown_term "not available"
      |  unknown_term "unknown"
      |  <field>
      |    name            one
      |    type            Int
      |  </field>
      |  <field>
      |    name            two
      |    type            Int
      |    required        1
      |    accepts_unknown 1
      |  </field>
      |</checklist>""".stripMargin

  private val conf09If =
    """<checklist if>
      |  header_row one,two,three,four,five,six
      |  unknown_term "not available"
      |  unknown_term "unknown"
      |  <dependencies>
      |    <if one>
      |      then two
      |      else three
      |    </if>
      |    <if four>
      |      then five
      |      else six
      |    </if>
      |  </dependencies>
      |  <field>
      |    name            one
      |    type            Bool
      |    accepts_unknown 1
      |  </field>
      |  <field>
      |    name            two
      |    type            Int
      |    accepts_unknown 1
      |  </field>
      |  <field>
      |    name            three
      |    type            Int
      |  </field>
      |  <field>
      |    name            four
      |    type            Bool
      |  </field>
      |  <field>
      |    name            five
      |    type            Int
      |  </field>
      |  <field>
      |    name            six
      |    type            Int
      |    accepts_unknown 1
      |  </field>
      |</checklist>""".stripMargin

  private val conf09OneOf =
    """<checklist one_of>
      |  header_row one,two,three,four
      |  unknown_term "not available"
      |  unknown_term "unknown"
      |  <dependencies>
      |    <one_of>
      |      group_one one
      |      group_one two
      |      group_two three
      |      group_two four
      |    </one_of>
      |  </dependencies>
      |  <field>
      |    name            one
      |    type            Int
      |    accepts_unknown 1
      |  </field>
      |  <field>
      |    name            two
      |    type            Int
      |  </field>
      |  <field>
      |    name            three
      |    type            Int
      |    accepts_unknown 1
      |  </field>
      |  <field>
      |    name            four
      |    type            Int
      |    accepts_unknown 1
      |  </field>
      |</checklist>""".stripMargin

  private val conf09SomeOf =
    """<checklist some_of>
      |  header_row one,two,three,four,five
      |  unknown_term "not available"
      |  unknown_term "unknown"
      |  <dependencies>
      |    <some_of>
      |      group_one one
      |      group_one two
      |      group_two three
      |      group_two four
      |      group_two five
      |    </some_of>
      |  </dependencies>
      |  <field>
      |    name            one
      |    type            Int
      |    required        1
      |    accepts_unknown 1
      |  </field>
      |  <field>
      |    name            two
      |    type            Int
      |    accepts_unknown 1
      |  </field>
      |  <field>
      |    name            three
      |    type            Int
      |  </field>
      |  <field>
      |    name            four
      |    type            Int
      |  </field>
      |  <field>
      |    name            five
      |    type            Int
      |    accepts_unknown 1
      |  </field>
      |</checklist>""".stripMargin

  test("reference fixture conformance sweep: exact invalid-row counts and " +
      "row ids for every ported manifest/config pair") {
    // (label, config text, csv text, total rows, invalid row-id set, ref)
    val table = Seq(
      ("04_working", conf04Sweep,
        "one,two\n1,two\n0,two\n",
        2, Set.empty[Long], "t/04_validator.t:19"),
      ("04_broken", conf04Sweep,
        "one,two\n1,two\nnot_a_bool,two\n",
        2, Set(2L), "t/04_validator.t:35-39"),
      ("06_if", conf06If,
        """one,two,three,four,five,six,seven,eight,nine
          |1,b,c,,,1,g,,
          |,b,c,d,e,1,g,,
          |1,,,,,1,g,,
          |1,b,,,,1,g,,
          |1,,c,,,1,g,,
          |0,,,d,e,1,g,,
          |0,,,,,1,g,,
          |0,,,d,,1,g,,
          |0,,,,e,1,g,,
          |1,b,c,d,,1,g,,
          |0,b,,d,e,1,g,,
          |1,b,c,,,1,g,,
          |1,b,c,,,0,,h,i
          |1,b,c,,,1,,h,
          |1,b,c,,,1,g,,
          |1,b,c,,,yes,g,,
          |1,b,c,,,no,,h,i
          |""".stripMargin,
        17, Set(2L, 3L, 4L, 5L, 7L, 8L, 9L, 10L, 11L, 14L),
        "t/06_relationships.t:25-40 (10 invalid)"),
      ("06_one_of", confGroups("one_of", "one_of"),
        "one,two,three,four,five\n1,,1,,\n1,1,1,,\n,,1,,\n1,,1,1,\n1,,1,1,1\n1,,,,\n",
        6, Set(2L, 3L, 4L, 5L), "t/06_relationships.t:44-56 (4 invalid)"),
      ("06_some_of", confGroups("some_of", "some_of"),
        "one,two,three,four,five\n1,,1,,\n1,1,1,,\n,,1,,\n,1,1,,\n1,,,,\n1,,1,1,1\n",
        6, Set(3L, 4L), "t/06_relationships.t:58-68 (2 invalid)"),
      ("09_unknown_simple", conf09Unknown,
        "one,two\n1,1\n1,\"not available\"\n1,not available\n1,\"unknown\"\n" +
          "1,\"pass\"\n\"not available\",1\n",
        6, Set(5L, 6L), "t/09_unknown.t:18-28 (2 invalid)"),
      ("09_unknown_if", conf09If,
        """one,two,three,four,five,six
          |1,1,,1,1,
          |1,,,1,1,
          |,1,,1,1,
          |"not available",1,,1,1,
          |"unknown",1,,1,1,
          |"not available",,,1,1,
          |1,"not available",,1,1,
          |pass,1,,1,1,
          |""".stripMargin,
        8, Set(2L, 3L, 8L), "t/09_unknown.t:33-44 (3 invalid)"),
      ("09_unknown_one_of", conf09OneOf,
        "one,two,three,four\n1,,1,\nunknown,,1,\nunknown,1,1,\n" +
          "1,,unknown,unknown\n1,,1,unknown\n",
        5, Set.empty[Long], "t/09_unknown.t:50-58 (0 invalid)"),
      ("09_unknown_some_of", conf09SomeOf,
        """one,two,three,four,five
          |1,,1,,
          |unknown,,1,,
          |unknown,1,1,,
          |unknown,unknown,1,,
          |1,,,,
          |1,,,,unknown
          |1,,,1,unknown
          |1,,1,1,unknown
          |""".stripMargin,
        8, Set(2L), "t/09_unknown.t:63-72 (1 invalid)"))

    for ((label, conf, csv, nRows, invalidIds, ref) <- table) {
      val cl = graft.model.ChecklistConfig.parse(conf)
      val m = graft.sources.ManifestReader.readCsv(spark, sweepTmp(csv), cl)
      // the reader already assigns 1-based row ids (Main.scala wiring)
      val v = validate(m.df, cl, Options(rowIdCol = Some("row_id")))
      assert(v.count() === nRows.toLong, s"$label ($ref): row count")
      val got = v.filter(!col(PassedCol)).select(RowId)
        .collect().map(_.getLong(0)).toSet
      assert(got === invalidIds, s"$label ($ref): invalid row ids")
    }
  }
}
