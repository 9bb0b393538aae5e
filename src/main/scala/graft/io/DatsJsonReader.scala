package graft.io

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.GtexEtl.EntityGraph

/** S15 — the JSON-LD graph re-ingest (sparql/v0.7/rdflib_util.py:54-63),
  * re-expressed for the entity-table engine: parse a [[DatsJsonWriter]]
  * document back into normalized entity DataFrames, so the canonical
  * queries run against a written instance exactly the way the
  * reference's query scripts re-read the ETL's output file. Where the
  * reference inflates the document into ~663k RDF triples and scans
  * them, this reader STREAMS the document ONCE on the driver (Jackson
  * token walk; reference instances are ≤ ~420 MB — the same driver-side
  * budget the writer already assumes) and hands Spark the same
  * normalized tables the ETL produced, so every downstream join keeps
  * its pushdown and pruning. Those tables are local checkpoints: the
  * row buffers are shipped to the executors once, concurrently, inside
  * [[read]], and the queries scan executor-resident blocks instead of
  * re-sending driver-local rows with every plan (release them with
  * [[EntityGraph.unpersist]]). The corpus-sized containers — `hasPart`
  * dataset children, `isAbout` materials, `hasMember`, `dimensions`,
  * `distributions` — are iterated element-by-element off the parser, so
  * peak heap is the entity ROW buffers plus ONE bounded element subtree,
  * never the whole-document node tree plus its source string (the r16
  * readTree shape). Measured by [[graft.DatsReadBench]] across a
  * three-point document ladder (dats_read_bench_r20.jsonl): streaming
  * residency 1.58/2.21/4.80 GB on 108/217/436 MB writer-grammar
  * documents — 3.04× peak across a 4× document range, overall scaling
  * exponent ≈0.8, i.e. LINEAR with no superlinear term in the token
  * walk, so the reference's 420 MB instance ceiling costs ~4.8 GB of
  * driver heap. The whole-tree shape pays 1.5–2.1× more at every
  * point; what the streaming shape keeps is the entity row buffers
  * both shapes share, which the document's row count, not the parse,
  * dictates. At cluster scale the
  * deployment shape is [[EntityStore]] parquet — this reader exists for
  * reference-format interchange, not as the 100 TB path.
  *
  * Inversion notes (all from the writer's emission rules):
  *  - first-occurrence/idref semantics: a node with `@type` is the full
  *    entity (attributes recorded there, exactly once); a bare
  *    `{"@id": …}` resolves to the already-recorded entity;
  *  - `material_type` is not serialized (the reference has no such
  *    field) — it is re-derived from the role, the same donor/specimen/
  *    extract mapping the queries' typed hops rely on;
  *  - an extract's `subject_id` join key is re-derived by walking its
  *    `derivesFrom` chain up to the donor material's name;
  *  - a distribution's `md5` rides the owning dataset's MD5 Dimension
  *    (the writer emits it there, mirroring rdflib_tabular_dump.py's
  *    own MD5-from-dimensions lookup).
  */
object DatsJsonReader {

  private def str(n: JsonNode, f: String): String = {
    val v = n.get(f)
    if (v == null || v.isNull) null else v.asText()
  }

  def read(spark: SparkSession, path: String): EntityGraph = {
    val mapper = new ObjectMapper()

    val datasets = mutable.ArrayBuffer.empty[Row]
    val identifiers = mutable.ArrayBuffer.empty[Row]
    val studyNames = mutable.LinkedHashMap.empty[String, String]
    val studyOf = mutable.ArrayBuffer.empty[(String, String)] // (study_id, dataset_id)
    val studyGroups = mutable.ArrayBuffer.empty[Row]
    val groupMembers = mutable.ArrayBuffer.empty[Row]
    // material_id -> (name, role, derives_from, anatomy_id, description)
    val materialAttrs = mutable.LinkedHashMap.empty[String, (String, String, String, String, String)]
    val anatomies = mutable.LinkedHashMap.empty[String, (String, String)]
    val characteristics = mutable.ArrayBuffer.empty[Row]
    val diseases = mutable.ArrayBuffer.empty[Row]
    // dim_id -> (name, var_acc, description, value); plus (owner, dim) pairs
    val dimAttrs = mutable.LinkedHashMap.empty[String, (String, String, String, String)]
    val dimOf = mutable.ArrayBuffer.empty[(String, String)]
    // (dataset_id, access_url, size, doi, index_doi); md5 joined from dims
    val distributions = mutable.ArrayBuffer.empty[(String, String, Any, String, String)]
    val dataAcquisitions = mutable.ArrayBuffer.empty[Row]

    def walkMaterial(n: JsonNode): String = {
      val id = str(n, "@id")
      if (!n.has("@type")) return id // idref — already recorded at first occurrence
      val role = Option(n.get("roles")).map(_.get(0)).map(str(_, "value")).orNull
      val anatomyId = Option(n.get("anatomicalPart")).map { a =>
        val aid = str(a, "@id")
        if (a.has("@type"))
          anatomies.getOrElseUpdate(aid, (str(a, "name"), str(a, "identifier")))
        aid
      }.orNull
      val derivesFrom = Option(n.get("derivesFrom"))
        .map(arr => walkMaterial(arr.get(0))).orNull
      materialAttrs(id) = (str(n, "name"), role, derivesFrom, anatomyId,
        str(n, "description"))
      Option(n.get("characteristics")).foreach(_.elements().asScala.foreach { c =>
        characteristics += Row(id, str(c, "identifier"), str(c, "name"),
          str(c, "value"))
      })
      Option(n.get("bearerOfDisease")).foreach(_.elements().asScala.foreach { d =>
        diseases += Row(id, str(d, "name"),
          Option(d.get("identifier")).map(str(_, "identifier")).orNull,
          Option(d.get("diseaseStatus")).map(str(_, "value")).orNull)
      })
      id
    }

    // Node-level handlers for the bounded per-element subtrees (a
    // dimension, a distribution — a few hundred bytes each).
    def dimensionNode(ownerId: String, d: JsonNode): Unit = {
      val did = str(d, "@id")
      if (d.has("@type"))
        dimAttrs(did) = (str(d, "name"), str(d, "identifier"),
          str(d, "description"), str(d, "values"))
      dimOf += ((ownerId, did))
    }
    def distributionNode(ownerId: String, d: JsonNode): Unit = {
      val size: Any =
        if (d.has("size") && !d.get("size").isNull) d.get("size").asLong() else null
      val indexDoi = Option(d.get("relatedIdentifiers"))
        .map(_.get(0)).map(str(_, "identifier")).orNull
      distributions += ((ownerId,
        Option(d.get("access")).map(str(_, "landingPage")).orNull,
        size, str(d, "identifier"), indexDoi))
    }

    // ---- streaming walk ------------------------------------------------
    // Container arrays are iterated off the token stream; each ELEMENT is
    // a bounded subtree (a material with its derivesFrom chain, a study
    // group header, a dimension) read via readTree and handled by the
    // node-level code above. Field handling is order-independent with one
    // documented exception: `@id` must precede the corpus-sized container
    // fields that need it (`hasPart`, `identifier`, `dimensions`,
    // `distributions`) — every DATS producer (the reference's OrderedDict
    // emission, datsobj.py:118, and [[DatsJsonWriter]]) puts `@type`/`@id`
    // first; a document violating that fails loudly below rather than
    // mis-attributing children.
    def textOrNull(p: JsonParser): String =
      if (p.currentToken() == JsonToken.VALUE_NULL) null else p.getText()
    def skipValue(p: JsonParser): Unit =
      if (p.currentToken() == JsonToken.START_OBJECT ||
          p.currentToken() == JsonToken.START_ARRAY) { p.skipChildren(); () }
    /** Iterate an array's elements: on entry current token is
      * START_ARRAY; `f` is invoked with the parser positioned at each
      * element's first token (readTree consumes exactly the subtree). */
    def forEachElement(p: JsonParser)(f: => Unit): Unit = {
      require(p.currentToken() == JsonToken.START_ARRAY,
        s"DatsJsonReader: expected array, got ${p.currentToken()}")
      while (p.nextToken() != JsonToken.END_ARRAY) f
    }

    /** Stream a producedBy object: a DataAcquisition (has `input`, no
      * `@id` — the writer never assigns one) or a Study (full node or
      * idref). Returns the study id, or null for an acquisition. */
    def walkProducedBy(p: JsonParser, datasetId: String): String = {
      var studyId: String = null
      var sawInput = false
      var isFull = false
      var name: String = null
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val f = p.currentName(); p.nextToken()
        f match {
          case "@id" => studyId = textOrNull(p)
          case "@type" => isFull = true
          case "name" => name = textOrNull(p)
          case "input" =>
            sawInput = true
            forEachElement(p) {
              dataAcquisitions += Row(datasetId, walkMaterial(mapper.readTree[JsonNode](p)))
            }
          case "hasPart" => // study groups — stream each group's members
            require(studyId != null,
              "DatsJsonReader: study @id must precede hasPart")
            forEachElement(p) {
              var gid: String = null
              var gname: String = null
              while (p.nextToken() != JsonToken.END_OBJECT) {
                val gf = p.currentName(); p.nextToken()
                gf match {
                  case "@id" => gid = textOrNull(p)
                  case "name" => gname = textOrNull(p)
                  case "hasMember" =>
                    require(gid != null,
                      "DatsJsonReader: study group @id must precede hasMember")
                    forEachElement(p) {
                      groupMembers += Row(gid, walkMaterial(mapper.readTree[JsonNode](p)))
                    }
                  case _ => skipValue(p)
                }
              }
              studyGroups += Row(gid, studyId, gname)
            }
          case _ => skipValue(p)
        }
      }
      if (sawInput) null
      else {
        studyOf += ((studyId, datasetId))
        if (isFull) studyNames(studyId) = name
        studyId
      }
    }

    /** Stream a dataset object (current token: its START_OBJECT). An
      * idref node (no `@type`) records nothing — the full entity was
      * walked at first occurrence. */
    def walkDataset(p: JsonParser, parentId: String): Unit = {
      var id: String = null
      var isFull = false
      var title: String = null
      var description: String = null
      var version: String = null
      var dataType: String = null
      var studyId: String = null
      def needId(f: String): String = {
        require(id != null, s"DatsJsonReader: dataset @id must precede $f")
        id
      }
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val f = p.currentName(); p.nextToken()
        f match {
          case "@id" => id = textOrNull(p)
          case "@type" => isFull = true
          case "title" => title = textOrNull(p)
          case "description" => description = textOrNull(p)
          case "version" => version = textOrNull(p)
          case "types" =>
            dataType = Option(mapper.readTree[JsonNode](p).get(0))
              .map(str(_, "value")).orNull
          case "identifier" =>
            val idn = mapper.readTree[JsonNode](p)
            identifiers += Row(needId(f), str(idn, "identifier"),
              str(idn, "identifierSource"))
          case "dimensions" =>
            forEachElement(p)(dimensionNode(needId(f), mapper.readTree[JsonNode](p)))
          case "distributions" =>
            forEachElement(p)(distributionNode(needId(f), mapper.readTree[JsonNode](p)))
          case "isAbout" =>
            forEachElement(p)(walkMaterial(mapper.readTree[JsonNode](p)))
          case "producedBy" =>
            studyId = walkProducedBy(p, needId(f))
          case "hasPart" =>
            forEachElement(p)(walkDataset(p, needId(f)))
          case _ => skipValue(p)
        }
      }
      if (isFull)
        datasets += Row(id, parentId, title, description, version, dataType, studyId)
    }

    val parser = mapper.getFactory.createParser(new java.io.File(path))
    try {
      parser.nextToken() match {
        case JsonToken.START_ARRAY => forEachElement(parser)(walkDataset(parser, null))
        case JsonToken.START_OBJECT => walkDataset(parser, null)
        case t => sys.error(s"DatsJsonReader: unexpected root token $t in $path")
      }
    } finally parser.close()

    // post-walk derivations: material_type from role, subject_id from the
    // derivesFrom chain's donor name (Q7's file_subject_key join key)
    def typeOfRole(role: String): String = role match {
      case "donor" => "subject"
      case "specimen" => "sample"
      case r if r != null && r.endsWith("extract") => "extract"
      case other => other
    }
    def donorName(id: String): String = {
      var cur = id
      var hops = 0
      while (cur != null && hops < 8) {
        materialAttrs.get(cur) match {
          case Some((name, role, parent, _, _)) =>
            if (role == "donor") return name
            cur = parent
          case None => return null
        }
        hops += 1
      }
      null
    }
    val materialRows = materialAttrs.iterator.map {
      case (id, (name, role, parent, anatomy, desc)) =>
        Row(id, name, typeOfRole(role), role, donorName(id), parent, anatomy, desc)
    }.toSeq
    // a distribution's md5 is the owning dataset's MD5 dimension value
    val md5Of = dimOf.iterator.flatMap { case (owner, did) =>
      dimAttrs.get(did).collect { case ("MD5", _, _, v) if v != null => owner -> v }
    }.toMap
    val distRows = distributions.iterator.map { case (ds, url, size, doi, idx) =>
      Row(ds, url, size, md5Of.get(ds).orNull, doi, idx)
    }.toSeq
    val dimRows = dimOf.iterator.map { case (owner, did) =>
      val (name, varAcc, desc, value) = dimAttrs.getOrElse(did, (null, null, null, null))
      Row(did, owner, name, varAcc, desc, value)
    }.toSeq
    val studyRows = studyOf.iterator.map { case (sid, ds) =>
      Row(sid, ds, studyNames.getOrElse(sid, null))
    }.toSeq

    def s(fields: String*): StructType =
      StructType(fields.map(f => StructField(f, StringType)))
    def df(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.asJava, schema)

    // the driver-side row buffers are shipped to the executors ONCE, all
    // twelve tables concurrently: a query over a LocalRelation would
    // re-send its rows with every plan that scans it
    EntityGraph(
      datasets = df(datasets.toSeq, s("dataset_id", "parent_dataset_id", "title",
        "description", "version", "data_type", "study_id")),
      identifiers = df(identifiers.toSeq,
        s("entity_id", "identifier", "identifier_source")),
      studies = df(studyRows, s("study_id", "dataset_id", "name")),
      studyGroups = df(studyGroups.toSeq, s("group_id", "study_id", "name")),
      groupMembers = df(groupMembers.toSeq, s("group_id", "material_id")),
      materials = df(materialRows, s("material_id", "name", "material_type",
        "role", "subject_id", "derives_from", "anatomy_id", "description")),
      anatomicalParts = df(anatomies.iterator.map {
          case (aid, (name, uberon)) => Row(aid, name, uberon)
        }.toSeq, s("anatomy_id", "name", "uberon_id")),
      characteristics = df(characteristics.toSeq,
        s("material_id", "var_acc", "name", "value")),
      dimensions = df(dimRows, s("dim_id", "owner_id", "name", "var_acc",
        "description", "value")),
      distributions = df(distRows, StructType(Seq(
        StructField("dataset_id", StringType),
        StructField("access_url", StringType),
        StructField("size", LongType),
        StructField("md5", StringType),
        StructField("doi", StringType),
        StructField("index_doi", StringType)))),
      dataAcquisitions = df(dataAcquisitions.toSeq,
        s("dataset_id", "input_material_id")),
      diseases = df(diseases.toSeq,
        s("material_id", "name", "disease_id", "status"))).materialized
  }
}
