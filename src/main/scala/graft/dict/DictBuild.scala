package graft.dict

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Spark-native dictionary build: the reference's `index-dump` offline stage
  * (cli.py:107-119 -> indexingprofile.py:106-157 -> Solr) re-expressed as a
  * single declarative scan -> project -> filter plan over the raw JSON dump.
  *
  * Scale notes (100 TB design):
  *  - the dump scan is `spark.read.text` (bz2/zstd splittable via Hadoop
  *    codecs) followed by one `from_json` projection: one stage, no shuffle;
  *  - heterogeneous `datavalue.value` payloads (entity object vs external-id
  *    string) are parsed as Spark 4 VariantType and projected with
  *    `try_variant_get`, so a single pass handles every claim type;
  *  - the P279 subclass closure collects the (child, parent) edge table
  *    once, packed at 8 bytes per edge, and walks it on the driver; the
  *    resulting closure of the profile's target types is tiny (≤10^5 ids
  *    for real Wikidata types) and is pushed into the scan filter as a
  *    literal set (broadcast semi-join semantics without a shuffle).
  */
object DictBuild {

  /** from_json schema for one dump line (claims datavalues as variant). */
  val itemDDL: String =
    """struct<
      |  id string,
      |  type string,
      |  lastrevid long,
      |  labels map<string, struct<language string, value string>>,
      |  descriptions map<string, struct<language string, value string>>,
      |  aliases map<string, array<struct<language string, value string>>>,
      |  claims map<string, array<struct<
      |    mainsnak struct<snaktype string, property string, datavalue variant>,
      |    qualifiers map<string, array<struct<snaktype string, property string, datavalue variant>>>,
      |    rank string>>>,
      |  sitelinks map<string, struct<site string, title string>>
      |>""".stripMargin

  lazy val itemType: DataType = DataType.fromDDL(itemDDL)

  /** Dump-reader semantics (readers/dumpreader.py:26-36): drop `[`/`]`
    * garbage lines, strip the trailing comma, parse. */
  def parseDump(lines: Dataset[String]): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.toDF("line")
      .filter(length(trim($"line")) > lit(2))
      .select(from_json(regexp_replace($"line", ",\\s*$", ""), itemType).as("it"))
      .filter($"it.id".isNotNull)
  }

  /** Entity-valued numeric id of a claim's mainsnak, or null. */
  private val snakNumericId = "try_variant_get(c.mainsnak.datavalue, '$.value[\"numeric-id\"]', 'int')"
  private val qualNumericIds =
    "transform(flatten(map_values(coalesce(c.qualifiers, map()))), q -> try_variant_get(q.datavalue, '$.value[\"numeric-id\"]', 'int'))"

  /** P279 (child, parent) integer edge table from a parsed dump. */
  def p279Edges(items: DataFrame): DataFrame =
    items
      .filter(col("it.claims")("P279").isNotNull)
      .select(
        expr("cast(substring(it.id, 2) as int)").as("child"),
        explode(expr(
          s"filter(transform(it.claims['P279'], c -> $snakNumericId), x -> x is not null)"))
          .as("parent"))

  /** Transitive descendant closure of `rootQid` over P279, reflexive
    * (typematcher.py:14-51), walked breadth-first to fixpoint on the
    * driver; a node already in the closure never re-enters the frontier,
    * so P279 cycles terminate. The (child, parent) table is collected once,
    * each edge packed into one long `parent << 32 | child` (8 bytes per
    * edge: 10^7 edges are 80 MB) and sorted, so a parent's children are one
    * contiguous run found by binary search. */
  def subclassClosure(spark: SparkSession, edges: DataFrame, rootQid: Int): Set[Int] = {
    import spark.implicits._
    val packed = edges
      .select(shiftleft($"parent".cast("long"), 32)
        .bitwiseOR($"child".cast("long").bitwiseAND(0xffffffffL)))
      .as[Long].collect()
    java.util.Arrays.sort(packed)
    def children(parent: Int): Iterator[Int] = {
      val key = parent.toLong << 32
      var lo = 0
      var hi = packed.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (packed(mid) < key) lo = mid + 1 else hi = mid }
      Iterator.range(lo, packed.length).takeWhile(i => (packed(i) >> 32) == parent)
        .map(i => packed(i).toInt)
    }
    var closure = Set(rootQid)
    var frontier = Set(rootQid)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(children) -- closure
      closure ++= next
      frontier = next
    }
    closure
  }

  /** entity_to_document (indexingprofile.py:106-157) as one declarative
    * projection + filter over the parsed dump. `closures` maps each
    * restrict_types target qid to its (pre-computed) subclass closure. */
  def entityToDocument(
      items: DataFrame,
      profile: DictSpec.Profile,
      closures: Map[String, Set[Int]]): DataFrame = {

    val typeFeatureCols: Seq[(String, org.apache.spark.sql.Column)] =
      profile.restrictTypes.map { c =>
        val closure = closures(c.qid).toSeq.sorted
        val p31Ids = expr(
          s"filter(transform(coalesce(it.claims['${c.pid}'], array()), c -> $snakNumericId), x -> x is not null)")
        c.qid -> arrays_overlap(p31Ids, typedLit(closure))
      } ++
        profile.restrictProperties.map { pid =>
          val idVals = expr(
            s"filter(transform(coalesce(it.claims['$pid'], array()), c -> try_variant_get(c.mainsnak.datavalue, '$$.value', 'string')), x -> x is not null)")
          pid -> (size(idVals) > lit(0))
        }

    val typesMap = map(
      typeFeatureCols.flatMap { case (k, v) => Seq(lit(k), v) }: _*)

    val correctType = typeFeatureCols.map(_._2).reduceOption(_ || _).getOrElse(lit(false))
    val validItem =
      if (profile.restrictTypes.isEmpty && profile.restrictProperties.isEmpty) lit(true)
      else correctType

    // default label with language fallback (wditem.py:69-82)
    val label = coalesce(
      col("it.labels")(profile.language)("value"),
      col("it.labels")("en")("value"),
      get(map_values(coalesce(col("it.labels"),
        expr("map()").cast("map<string, struct<language string, value string>>"))),
        lit(0))("value"))

    // all labels + aliases across languages, dedup, label removed
    val allTerms = array_distinct(concat(
      expr("transform(map_values(coalesce(it.labels, map())), l -> l.value)"),
      expr("transform(flatten(map_values(coalesce(it.aliases, map()))), a -> a.value)")))

    // outgoing edges: every entity-valued mainsnak + qualifier target, with
    // multiplicity, P31 claims excluded (wditem.py:15-40)
    val edges = expr(
      s"""filter(
         |  flatten(transform(
         |    filter(map_entries(coalesce(it.claims, map())), e -> e.key != 'P31'),
         |    e -> flatten(transform(e.value,
         |      c -> concat(array($snakNumericId), $qualNumericIds))))),
         |  x -> x is not null)""".stripMargin)

    val extraAliases = concat(
      (profile.aliasProperties.map { ap =>
        val prefix = ap.prefix.getOrElse("")
        expr(
          s"transform(filter(transform(coalesce(it.claims['${ap.pid}'], array()), c -> try_variant_get(c.mainsnak.datavalue, '$$.value', 'string')), x -> x is not null), v -> concat('$prefix', v))")
      } :+ expr("array()")): _*)

    items
      .withColumn("types", typesMap)
      .withColumn("valid_item", validItem)
      .withColumn("label", label)
      .filter(col("valid_item") && col("label").isNotNull)
      .select(
        col("it.id").as("id"),
        coalesce(col("it.lastrevid"), lit(1L)).as("revid"),
        col("label"),
        coalesce(col("it.descriptions")(profile.language)("value"), lit("")).as("desc"),
        edges.as("edges"),
        col("types"),
        array_remove(allTerms, col("label")).as("aliases"),
        extraAliases.as("extra_aliases"),
        expr("aggregate(map_values(coalesce(it.claims, map())), 0, (acc, x) -> acc + size(x))")
          .as("nb_statements"),
        size(coalesce(col("it.sitelinks"), map())).as("nb_sitelinks"))
  }

  /** Blocking-key table (norm_key, qid, n_tokens) from the entity dict:
    * the Spark replacement for the Solr FST tag index. Normalization runs
    * the tagger analyzer chain (graft.text.TextOps.normToken). */
  def dictKeys(entityDict: DataFrame, analyzer: String = "tapioca"): DataFrame = {
    val spark = entityDict.sparkSession
    import spark.implicits._
    // the profile's solrconfig picks the analyzer chain (tapioca
    // case-sensitive / affiliations lowercase / twitter @#), mirroring the
    // reference's per-configset managed-schema `tag` field type
    val normKey = udf { term: String =>
      graft.text.TextOps.tokenizeWithOffsetsFor(analyzer, term).map(_.norm).mkString(" ")
    }
    entityDict
      .select($"id".as("qid"),
        explode(concat(array($"label"), $"aliases", $"extra_aliases")).as("term"))
      .select($"qid", normKey($"term").as("norm_key"))
      .filter(length($"norm_key") > 0)
      .withColumn("n_tokens", size(split($"norm_key", " ")))
      .distinct()
  }

  /** The synthetic dump as a Dataset (test/bench source; production swaps in
    * spark.read.text over the real dump). */
  def syntheticDump(spark: SparkSession): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(DictSpec.dumpLines)
  }

  /** The real file-based dump scan (readers/dumpreader.py:12-17): a plain
    * text scan; .bz2/.zst resolve through Hadoop compression codecs, so the
    * same call reads wikidata-dump-shaped files at any size. Feed the
    * result to [[parseDump]]. */
  def readDumpFile(spark: SparkSession, path: String): Dataset[String] =
    spark.read.textFile(path)

  // ---- indexing-profile JSON files (indexingprofile.py:84-104) -------------

  /** Load an IndexingProfile JSON file (the reference's user-facing config,
    * e.g. profiles/human_organization_location.json). Nulls mean "no
    * restriction" (all_items_profile.json). */
  def loadProfile(path: String): DictSpec.Profile = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val json = JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8))
    def strField(name: String, default: String): String =
      json \ name match { case JString(s) => s; case _ => default }
    val types = json \ "restrict_types" match {
      case JArray(vs) => vs.map { v =>
        val JString(t) = v \ "type"
        val JString(p) = v \ "property"
        DictSpec.TypeConstraint(t, p)
      }
      case _ => Nil
    }
    val props = json \ "restrict_properties" match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _ => Nil
    }
    val aliases = json \ "alias_properties" match {
      case JArray(vs) => vs.map { v =>
        val JString(p) = v \ "property"
        val prefix = v \ "prefix" match { case JString(s) => Some(s); case _ => None }
        DictSpec.AliasProperty(p, prefix)
      }
      case _ => Nil
    }
    DictSpec.Profile(
      language = strField("language", "en"),
      restrictTypes = types,
      restrictProperties = props,
      aliasProperties = aliases,
      name = strField("name", ""),
      solrconfig = strField("solrconfig", "tapioca"))
  }

  /** Serialize a profile back to the reference's JSON shape
    * (indexingprofile.py:84-91; round-trip pinned by the fixtures spec). */
  def profileJson(p: DictSpec.Profile): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val json = JObject(
      "language" -> JString(p.language),
      "name" -> JString(p.name),
      "solrconfig" -> JString(p.solrconfig),
      "restrict_properties" -> JArray(p.restrictProperties.map(JString(_)).toList),
      "restrict_types" -> JArray(p.restrictTypes.map(t => JObject(
        "type" -> JString(t.qid), "property" -> JString(t.pid))).toList),
      "alias_properties" -> JArray(p.aliasProperties.map(a => JObject(
        "property" -> JString(a.pid),
        "prefix" -> a.prefix.map(JString(_)).getOrElse(JNull))).toList))
    JsonMethods.compact(JsonMethods.render(json))
  }

  /** Qid/Pid normalization (utils.py:3-34): extract the trailing Q/P id
    * from an entity URI, null when absent. */
  def qidFromUrl(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m = regexp_extract(c, "(Q[1-9][0-9]*)$", 1)
    when(length(m) > 0, m)
  }

  def pidFromUrl(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m = regexp_extract(c, "(P[1-9][0-9]*)$", 1)
    when(length(m) > 0, m)
  }
}
