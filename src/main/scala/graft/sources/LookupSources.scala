package graft.sources

import scala.io.Source

/**
 * Driver-side loaders for the reference's lookup file formats, for
 * broadcast-set predicates (the reference's own winning design,
 * Plugin/Ontology.pm:63-69).
 */
object LookupSources {

  /** OBO ontology: only `^id: (.*)` lines matter
   * (reference: Plugin/Ontology.pm:39-53, regex at 47). */
  def oboTerms(path: String): Set[String] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().collect { case l if l.startsWith("id: ") => l.drop(4) }.toSet
    finally src.close()
  }

  private val NamesRe =
    """^(\d+)\t\|\t(.*?)\t\|(.*?)\t\|\t(.*?)\t\|?$""".r

  /** NCBI names.dmp: keep only `scientific name` rows; returns
   * (id -> name, name -> id), the two-hash lookup of the reference
   * (Plugin/Taxonomy.pm:43-54, filter regex at 49). */
  def taxonomyMaps(path: String): (Map[String, String], Map[String, String]) = {
    val src = Source.fromFile(path, "UTF-8")
    try {
      val pairs = src.getLines().flatMap {
        case NamesRe(id, name, _, cls) if cls.trim == "scientific name" =>
          Some(id -> name)
        case _ => None
      }.toSeq
      (pairs.toMap, pairs.map(_.swap).toMap)
    } finally src.close()
  }
}
