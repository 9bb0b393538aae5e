package graft.io

import java.io.{StringWriter, Writer}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.Using

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}

import org.apache.spark.sql.Row

import graft.Concurrent
import graft.etl.GtexEtl.EntityGraph

/** K1 — the single-document DATS JSON-LD sink
  * (bin/gtex_v7_to_dats.py:404-406; encoder ccmm/dats/datsobj.py:144-149).
  *
  * The entity tables stay distributed until this step: they are collected
  * in one concurrent round, and the document is streamed depth-first
  * through one Jackson generator with the default pretty printer — no
  * document tree and no whole-document string is built (reference
  * instances are ≤ ~420 MB — SURVEY.md §7.1.6). Three properties of the
  * reference output are reproduced deliberately:
  *
  *  1. insertion-ordered keys (`OrderedDict`, datsobj.py:118) — each
  *     node's fields are written in a fixed order;
  *  2. first-occurrence / id-reference semantics (`DatsObjCache`,
  *     datsobj.py:156-172): the first emission of an entity is the full
  *     object, every later one is `{"@id": …}` — emission order is pinned
  *     by the same sorts the reference applies (O1: subjects and samples
  *     by name), so output is byte-stable;
  *  3. deterministic ids (content hashes) instead of uuid4
  *     (datsobj.py:109-114) — identical inputs produce identical bytes,
  *     which the reference explicitly does NOT (SURVEY.md §1.4).
  *
  * Cycles (subject ↔ study group, dataset ↔ data acquisition,
  * bin/gtex_v7_to_dats.py:352-358) exist in the FK tables; the writer
  * emits the back-edge as an idref, which is also what the reference's
  * `--no_circular_links`-less output does after the first occurrence.
  */
object DatsJsonWriter {

  // context URI prefixes (ccmm/dats/datsobj.py:20-21)
  private val SdoContextBase = "https://datatagsuite.github.io/context/sdo/"
  private val OboContextBase = "https://datatagsuite.github.io/context/obo/"

  private val factory = new JsonFactory()

  /** Writes DATS nodes to one generator and remembers which entities it
    * has emitted in full. */
  final class Emitter(gen: JsonGenerator) {
    private val emitted = scala.collection.mutable.HashSet[String]()

    def obj(body: => Unit): Unit = { gen.writeStartObject(); body; gen.writeEndObject() }
    def obj(field: String)(body: => Unit): Unit = { gen.writeFieldName(field); obj(body) }
    def arr(field: String)(body: => Unit): Unit = {
      gen.writeArrayFieldStart(field); body; gen.writeEndArray()
    }
    def str(field: String, v: String): Unit = gen.writeStringField(field, v)
    /** A string field written only when `v` is not null. */
    def opt(field: String, v: String): Unit = if (v != null) str(field, v)

    /** A node of `datsType`: `@type`, `@context`, `@id`, then `body`'s
      * fields. `@context` is a two-element [sdo, obo] array whose
      * filenames derive from the registry's snake_case schema name
      * (datsobj.py:89-95), e.g. `anatomical_part_sdo_context.jsonld`;
      * `has_context: False` types (License) carry no @context. */
    def node(datsType: String, id: String)(body: => Unit): Unit = obj {
      str("@type", datsType)
      if (!graft.model.Dats.NoContextTypes.contains(datsType)) {
        val schemaName = graft.model.Dats.SchemaNames.getOrElse(datsType,
          sys.error(s"Unknown DATS object type '$datsType'"))
        arr("@context") {
          gen.writeString(SdoContextBase + schemaName + "_sdo_context.jsonld")
          gen.writeString(OboContextBase + schemaName + "_obo_context.jsonld")
        }
      }
      str("@id", id)
      body
    }

    /** First occurrence → full node (caller writes it); later → idref. */
    def full(id: String): Boolean = emitted.add(id)

    def idref(id: String): Unit = obj(str("@id", id))
  }

  /** The whole graph as one JSON document string.
    *
    * `maxOutputSamples` is O2 (`--max_output_samples`,
    * bin/gtex_v7_to_dats.py:376-378): the study dataset's `isAbout` list
    * holds the name-sorted sample materials truncated to N. Everything
    * else (file datasets, derivesFrom chains) stays complete, exactly as
    * the reference truncates only that one list. */
  def render(g: EntityGraph, maxOutputSamples: Option[Int] = None): String = {
    val emit = document(g, maxOutputSamples)
    val out = new StringWriter()
    emit(out)
    out.toString
  }

  /** [[render]] streamed into a UTF-8 file at `path`; a document that
    * fails part-way leaves no file behind. */
  def write(g: EntityGraph, path: String,
            maxOutputSamples: Option[Int] = None): Unit = {
    val emit = document(g, maxOutputSamples)
    val p = Paths.get(path)
    try Using.resource(Files.newBufferedWriter(p, StandardCharsets.UTF_8))(emit)
    catch { case e: Throwable => Files.deleteIfExists(p); throw e }
  }

  /** Collect `g`'s tables and check the graph's shape; returns the
    * function that writes the document. */
  private def document(g: EntityGraph, maxOutputSamples: Option[Int]): Writer => Unit = {
    // collect entity tables (driver-side assembly; tables are the small
    // top of the pyramid — file-level fan-out stays in the arrays below)
    val Seq(datasets, identifierRows, studyRows, groupRows, memberRows, materials,
        anatomyRows, charRows, dimRows, distRows, acqRows, diseaseRows) =
      Concurrent.run(g.datasets.sparkSession)(g.tables.map(t => () => t.collect().toSeq))
    val identifiers = identifierRows.groupBy(_.getAs[String]("entity_id"))
    val studies = studyRows.groupBy(_.getAs[String]("dataset_id"))
    val groups = groupRows.groupBy(_.getAs[String]("study_id"))
    val members = memberRows.groupBy(_.getAs[String]("group_id"))
    val materialById = materials.map(r => r.getAs[String]("material_id") -> r).toMap
    val anatomies = anatomyRows.map(r => r.getAs[String]("anatomy_id") -> r).toMap
    val chars = charRows.groupBy(_.getAs[String]("material_id"))
    val diseases = diseaseRows.groupBy(_.getAs[String]("material_id"))
    val dims = dimRows.groupBy(_.getAs[String]("owner_id"))
    val dists = distRows.groupBy(_.getAs[String]("dataset_id"))
    val acqs = acqRows.groupBy(_.getAs[String]("dataset_id"))
    // O2/isAbout: name-sorted EXTRACT materials, truncated to N when set.
    // Both reference pipelines put the DNA/RNA-extract nodes in isAbout —
    // each deriving from its biological sample, which derives from its
    // subject (ccmm/gtex/samples.py:143-153 returns the extract and
    // gtex_v7_to_dats.py:375-379 attaches that list; topmed samples.py:
    // 119-132 likewise) — so every extract is document-reachable even
    // when no file Dataset references it. Derived from the
    // ALREADY-COLLECTED materials rows — a second Spark job over
    // g.materials would recompute the whole lineage for a list the
    // driver is holding anyway.
    val sortedSamples = materials
      .filter(_.getAs[String]("material_type") == "extract")
      .sortBy(_.getAs[String]("name"))
    val isAboutIds = maxOutputSamples.fold(sortedSamples)(sortedSamples.take)
      .map(_.getAs[String]("material_id"))
    // the globally-collected sample list is only correct when a single
    // dataset carries it — with two study-linked datasets each would get
    // ALL samples in the graph, so make that graph shape fatal (the
    // reference builds one study dataset per document, topmed_to_dats
    // .py:170-266)
    val studyLinked = datasets.filter(_.getAs[String]("study_id") != null)
    require(studyLinked.size <= 1,
      s"isAbout requires at most one study-linked dataset per graph, found: " +
        studyLinked.map(_.getAs[String]("dataset_id")).mkString(","))
    val children = datasets.filter(_.getAs[String]("parent_dataset_id") != null)
      .groupBy(_.getAs[String]("parent_dataset_id"))
    val roots = datasets.filter(_.getAs[String]("parent_dataset_id") == null)
      .sortBy(_.getAs[String]("title"))

    out => {
      val gen = factory.createGenerator(out).useDefaultPrettyPrinter()
      val em = new Emitter(gen)
      import em.{arr, obj, opt, str}

      def material(mid: String): Unit = {
        val r = materialById(mid)
        if (!em.full(mid)) return em.idref(mid)
        em.node("Material", mid) {
          str("name", r.getAs[String]("name"))
          opt("description", r.getAs[String]("description"))
          arr("roles")(obj(str("value", r.getAs[String]("role"))))
          chars.get(mid).foreach(cs => arr("characteristics") {
            cs.sortBy(c => (c.getAs[String]("name"), c.getAs[String]("value"))).foreach(c => obj {
              str("name", c.getAs[String]("name"))
              // harmonized phenotype dimensions carry the reference's fixed
              // descriptions (P9, ccmm/topmed/subjects.py:55-93)
              graft.etl.Harmonize.Descriptions.get(c.getAs[String]("name")).foreach(str("description", _))
              opt("identifier", c.getAs[String]("var_acc"))
              str("value", c.getAs[String]("value"))
            })
          })
          // P9 bearerOfDisease (subjects.py:96-110): Disease node with DOID
          // identifier, OBO alternate id, and yes/no diseaseStatus
          diseases.get(mid).foreach(ds => arr("bearerOfDisease") {
            ds.sortBy(_.getAs[String]("name")).foreach(d => obj {
              str("name", d.getAs[String]("name"))
              obj("identifier") {
                str("identifier", d.getAs[String]("disease_id"))
                str("identifierSource", "Disease Ontology")
              }
              arr("alternateIdentifiers")(obj {
                str("identifier", "http://purl.obolibrary.org/obo/" +
                  d.getAs[String]("disease_id").replace(":", "_"))
                str("identifierSource", "Disease Ontology")
              })
              obj("diseaseStatus")(str("value", d.getAs[String]("status")))
            })
          })
          Option(r.getAs[String]("anatomy_id")).foreach { aid =>
            val a = anatomies(aid)
            gen.writeFieldName("anatomicalPart")
            if (em.full(aid)) em.node("AnatomicalPart", aid) {
              str("name", a.getAs[String]("name"))
              str("identifier", a.getAs[String]("uberon_id"))
            } else em.idref(aid)
          }
          Option(r.getAs[String]("derives_from")).foreach(df => arr("derivesFrom")(material(df)))
        }
      }

      def dataset(r: Row): Unit = {
        val id = r.getAs[String]("dataset_id")
        if (!em.full(id)) return em.idref(id)
        em.node("Dataset", id) {
          str("title", r.getAs[String]("title"))
          opt("description", r.getAs[String]("description"))
          opt("version", r.getAs[String]("version"))
          identifiers.get(id).foreach(ids => obj("identifier") {
            str("identifier", ids.head.getAs[String]("identifier"))
            str("identifierSource", ids.head.getAs[String]("identifier_source"))
          })
          Option(r.getAs[String]("data_type")).foreach(dt => arr("types")(obj(str("value", dt))))
          // study datasets carry the (possibly O2-truncated) sample list
          // (gtex_v7_to_dats.py:379 `isAbout`)
          if (r.getAs[String]("study_id") != null && isAboutIds.nonEmpty)
            arr("isAbout")(isAboutIds.foreach(material))
          dims.get(id).foreach(ds => arr("dimensions") {
            ds.sortBy(_.getAs[String]("dim_id")).foreach { d =>
              val did = d.getAs[String]("dim_id")
              if (em.full(did)) em.node("Dimension", did) {
                str("name", d.getAs[String]("name"))
                opt("identifier", d.getAs[String]("var_acc"))
                opt("description", d.getAs[String]("description"))
                opt("values", d.getAs[String]("value"))
              } else em.idref(did)
            }
          })
          dists.get(id).foreach(ds => arr("distributions") {
            ds.sortBy(_.getAs[String]("access_url")).foreach(d => obj {
              str("@type", "DatasetDistribution")
              obj("access")(str("landingPage", d.getAs[String]("access_url")))
              if (!d.isNullAt(d.fieldIndex("size"))) gen.writeNumberField("size", d.getAs[Long]("size"))
              opt("identifier", d.getAs[String]("doi"))
              // index-file DOI as a relatedIdentifier (the reference stores
              // the .crai DOI there, rdflib_tabular_dump.py:199-212)
              Option(d.getAs[String]("index_doi")).foreach(idx => arr("relatedIdentifiers")(obj {
                str("@type", "RelatedIdentifier")
                str("identifier", idx)
              }))
            })
          })
          // one producedBy per dataset: disjoint today (acquisitions on
          // file datasets, studies on the study dataset) — fail loudly
          // rather than silently drop one
          val study = studies.get(id).map(_.head)
          require(!(acqs.contains(id) && study.nonEmpty),
            s"dataset $id already has producedBy; would drop the prior value")
          acqs.get(id).foreach(as => obj("producedBy") {
            str("@type", "DataAcquisition")
            arr("input")(as.sortBy(_.getAs[String]("input_material_id"))
              .foreach(a => material(a.getAs[String]("input_material_id"))))
          })
          study.foreach { s =>
            val sid = s.getAs[String]("study_id")
            gen.writeFieldName("producedBy")
            if (em.full(sid)) em.node("Study", sid) {
              str("name", s.getAs[String]("name"))
              arr("hasPart")(groups.getOrElse(sid, Seq.empty).sortBy(_.getAs[String]("name")).foreach { gr =>
                val gid = gr.getAs[String]("group_id")
                em.node("StudyGroup", gid) {
                  str("name", gr.getAs[String]("name"))
                  // O1: deterministic emission order — members sorted by name
                  arr("hasMember")(members.getOrElse(gid, Seq.empty)
                    .map(m => materialById(m.getAs[String]("material_id")))
                    .sortBy(_.getAs[String]("name"))
                    .foreach(m => material(m.getAs[String]("material_id"))))
                }
              })
            } else em.idref(sid)
          }
          children.get(id).foreach(cs => arr("hasPart")(cs.sortBy(_.getAs[String]("title")).foreach(dataset)))
        }
      }

      if (roots.length == 1) dataset(roots.head)
      else {
        gen.writeStartArray()
        roots.foreach(dataset)
        gen.writeEndArray()
      }
      gen.close()
    }
  }
}
