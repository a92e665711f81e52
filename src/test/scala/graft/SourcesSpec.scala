package graft

import java.nio.file.Files

import graft.model._
import graft.model.FieldType._
import graft.sources._

/** Ingest + config + dimension-source fidelity tests (reference families
 * t/01 checklist config, t/02 reader hygiene, t/08 tax tree). */
class SourcesSpec extends SparkSuite {

  def tmpFile(name: String, content: String): String = {
    val p = Files.createTempFile("graft", name)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  val conf04 =
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

  test("01: config parses to the expected checklist") {
    val cl = ChecklistConfig.parse(conf04)
    assert(cl.name === "one")
    assert(cl.headerRow === Some("one,two"))
    assert(cl.fields === Seq(
      FieldDef("one", BoolT, description = Some("Testing description")),
      FieldDef("two", StrT())))
  }

  test("01: broken / multiple checklists throw") {
    val broken = "<checklist b>\n<field>\nname x\ntype Str\n" // unclosed
    val e1 = intercept[IllegalArgumentException] { ChecklistConfig.parse(broken) }
    assert(e1.getMessage.contains("unclosed"))
    val multiple = conf04 + "\n" + conf04.replace("checklist one", "checklist twoo")
    val e2 = intercept[IllegalArgumentException] { ChecklistConfig.parse(multiple) }
    assert(e2.getMessage.contains("multiple"))
    intercept[IllegalArgumentException] { ChecklistConfig.parse("just_a_kv 1") }
  }

  test("01: full grammar - deps, unknown terms, int bounds, enum values") {
    val conf =
      """<checklist full>
        |  header_row one,two,three,four
        |  unknown_term "not available"
        |  unknown_term unknown
        |  <dependencies>
        |    <if one>
        |      then two
        |      else three
        |      else four
        |    </if>
        |    <one_of>
        |      g1 two
        |      g1 three
        |    </one_of>
        |    <some_of>
        |      g2 three
        |      g2 four
        |    </some_of>
        |  </dependencies>
        |  <field>
        |    name one
        |    type Bool
        |    required 1
        |  </field>
        |  <field>
        |    name two
        |    type Int
        |    min 5
        |    max 10
        |    accepts_unknown 1
        |  </field>
        |  <field>
        |    name three
        |    type Enum
        |    values A
        |    values B
        |  </field>
        |  <field>
        |    name four
        |    type Str
        |    validation ^\d+$
        |  </field>
        |</checklist>""".stripMargin
    val cl = ChecklistConfig.parse(conf)
    assert(cl.unknownTerms === Seq("not available", "unknown"))
    assert(cl.dependencies.ifs === Seq(IfDep("one", Seq("two"), Seq("three", "four"))))
    assert(cl.dependencies.oneOf === Seq(GroupDep("g1", Seq("two", "three"))))
    assert(cl.dependencies.someOf === Seq(GroupDep("g2", Seq("three", "four"))))
    assert(cl.fieldByName("two").ftype === IntT(Some(5), Some(10)))
    assert(cl.fieldByName("two").acceptsUnknown)
    assert(cl.fieldByName("three").ftype === EnumT(Seq("A", "B")))
    assert(cl.fieldByName("four").ftype === StrT(Some("^\\d+$")))
    assert(cl.validateConfig().isRight)
  }

  test("02: reader hygiene - header skip, CR endings, blank rows, truncation, MD5") {
    val cl = ChecklistConfig.parse(conf04)
    val csv = "one,two\r\n1,hello\r,,\r0,world,EXTRA\rnot_a_bool,\r"
    val path = tmpFile(".csv", csv)
    val m = ManifestReader.readCsv(spark, path, cl)
    val rows = m.df.orderBy("row_id").collect()
    assert(rows.length === 3) // header + blank row dropped
    assert(rows(0).getString(0) === "1" && rows(0).getString(1) === "hello")
    assert(rows(1).getString(0) === "0" && rows(1).getString(1) === "world")
    assert(rows(2).getString(0) === "not_a_bool" && rows(2).getString(1) === null)
    assert(m.warnings.exists(_.contains("found data in unused fields (EXTRA)")))
    val expectMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(csv.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(m.md5 === expectMd5)
    assert(m.uuid.matches("[0-9a-f-]{36}"))
  }

  test("02: binary file rejected") {
    val p = Files.createTempFile("graft", ".bin")
    Files.write(p, Array[Byte](0x50, 0x4b, 0x00, 0x01))
    intercept[IllegalArgumentException] {
      ManifestReader.readCsv(spark, p.toString, ChecklistConfig.parse(conf04))
    }
  }

  test("05/08: OBO + names.dmp parsing") {
    val obo = tmpFile(".obo",
      "format-version: 1.2\n[Term]\nid: ENVO:1\nname: x\n[Term]\nid: ENVO:2\nname: y\n")
    assert(LookupSources.oboTerms(obo) === Set("ENVO:1", "ENVO:2"))
    val names = tmpFile(".dmp",
      "1\t|\troot node\t|\t\t|\tscientific name\t|\n" +
        "1\t|\ttree root\t|\t\t|\tsynonym\t|\n" +
        "2\t|\tnode two\t|\t\t|\tscientific name\t|\n")
    val (ids, byName) = LookupSources.taxonomyMaps(names)
    assert(ids === Map("1" -> "root node", "2" -> "node two"))
    assert(byName.keySet === Set("root node", "node two"))
  }

  test("08: tax tree nested-set numbering matches reference goldens") {
    // the reference fixture topology (t/data/08_nodes.dmp): root 1;
    // kingdoms 2,3,4,5; genera 6,7 under 4; leaves 8..12
    val nodes = Seq[(Long, Long, String)](
      (1, 1, "no rank"), (2, 1, "kingdom"), (3, 1, "kingdom"), (4, 1, "kingdom"),
      (5, 1, "kingdom"), (6, 4, "genus"), (7, 4, "genus"), (8, 6, "species"),
      (9, 7, "species"), (10, 5, "species"), (11, 3, "species"), (12, 2, "species"))
    val names = Map(1L -> "root node", 2L -> "node two", 3L -> "node three",
      4L -> "node four", 5L -> "node five", 6L -> "node six", 7L -> "node seven",
      8L -> "leaf 1", 9L -> "leaf 2", 10L -> "leaf 3", 11L -> "leaf 4", 12L -> "leaf 5")
    val tree = TaxTree.build(nodes, names)
    assert(tree.root.lft === 1 && tree.root.rgt === 24) // t/08_tax_tree.t:52-53
    val byId = TaxTree.nodeValues(tree) // tax-id order
    assert(byId.head === ((1L, "root node", 1L, 24L, 1L)))
    assert(byId(11) === ((12L, "leaf 5", 3L, 4L, 2L))) // t/08_tax_tree.t:56
    val dfs = TaxTree.nodeValues(tree, dfs = true)
    assert(dfs.head._1 === 1L)
    assert(dfs(11) === ((10L, "leaf 3", 21L, 22L, 5L))) // t/08_tax_tree.t:60
    // node two golden (t/08_tax_tree.t:42-50)
    assert(byId(1) === ((2L, "node two", 2L, 5L, 1L)))
  }

  test("TaxTree.buildDistributed == driver DFS numbering on the reference " +
      "fixture shape and on randomized trees; cycle fails loudly") {
    import graft.sources.TaxTree
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // randomized tree: parent(i) uniformly among earlier ids (acyclic by
    // construction), ids shuffled so child order != build order
    val ids = rnd.shuffle((2L to 150L).toVector)
    val nodes: Seq[(Long, Long, String)] = Seq((1L, 1L, "root")) ++
      ids.map { id =>
        val earlier = (Seq(1L) ++ ids.takeWhile(_ != id)).toVector
        (id, earlier(rnd.nextInt(earlier.size)), "node")
      }
    val names = nodes.map { case (id, _, _) => id -> s"n$id" }.toMap
    val want = TaxTree.nodeValues(TaxTree.build(nodes, names)).sortBy(_._1)
    val got = TaxTree.buildDistributed(
      nodes.toDF("tax_id", "parent_tax_id", "rank"),
      names.toSeq.toDF("tax_id", "name"))
      .orderBy("tax_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === want)
    // a parent cycle (2 <-> 3) must fail with the named error, not hang
    val cyc = Seq((1L, 1L, "root"), (2L, 3L, "a"), (3L, 2L, "b"))
    val err = intercept[IllegalStateException] {
      TaxTree.buildDistributed(cyc.toDF("tax_id", "parent_tax_id", "rank"),
        names.toSeq.toDF("tax_id", "name"), maxDepth = 8)
    }
    assert(err.getMessage.contains("cycle") || err.getMessage.contains("progress"))
  }
}
