package graft.kgbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** One query of the mix: its shape, SPARQL text, and the key its
  * reference answer is filed under. */
final case class QueryCase(shape: String, sparql: String, key: String)

/**
 * The seeded SPARQL mix of the `query` workload and, for every shape, a
 * formulation of the same answer in plain DataFrame operations over the
 * nodes/edges tables, written here and not in the program. The
 * benchmark compares each query's collected rows with it.
 *
 * The generator's vocabulary (gen.py) fixes the IRIs: entities
 * `e/<i>`, classes `class/C<k>`, and the predicates below.
 */
object Queries {
  val EX = "http://kg.example.org/"
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"
  val Shapes = Seq("lookup", "star", "path2", "closure", "groupcount", "filter_order", "optional")
  private val Instances = 6
  private val GroupPreds = Seq(RdfType, EX + "partOf", EX + "city", EX + "knows")

  /** The engine's node id, computed independently: sha256 of the n3 form. */
  def iriId(iri: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s"<$iri>".getBytes(StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  private def entity(i: Int) = s"${EX}e/$i"
  private def cls(k: Int) = s"${EX}class/C$k"

  /** The distinct queries a run draws from; the same seed gives the same set. */
  def cases(seed: Long, entities: Int, classes: Int): Seq[QueryCase] = {
    val r = new Random(seed)
    def ents(lo: Int) = Seq.fill(Instances)(lo + r.nextInt(entities - lo))
    val classIds = r.shuffle((0 until classes).toList).take(Instances)
    ents(0).map(i => QueryCase("lookup",
      s"SELECT ?p ?o WHERE { <${entity(i)}> ?p ?o }", entity(i))) ++
    classIds.map(k => QueryCase("star",
      s"SELECT ?s ?n ?a WHERE { ?s a <${cls(k)}> . ?s <${EX}name> ?n . ?s <${EX}age> ?a }", cls(k))) ++
    ents(0).map(i => QueryCase("path2",
      s"SELECT ?y ?z WHERE { <${entity(i)}> <${EX}knows> ?y . ?y <${EX}knows> ?z }", entity(i))) ++
    ents(entities / 2).map(i => QueryCase("closure",
      s"SELECT ?a WHERE { <${entity(i)}> <${EX}partOf>+ ?a }", entity(i))) ++
    GroupPreds.map(p => QueryCase("groupcount",
      s"SELECT ?o (COUNT(?s) AS ?n) WHERE { ?s <$p> ?o } GROUP BY ?o", p)) ++
    Seq.fill(Instances)(90000 + r.nextInt(9900)).map(k => QueryCase("filter_order",
      s"SELECT ?s ?a WHERE { ?s <${EX}age> ?a . FILTER(?a > $k) } ORDER BY DESC(?a) ?s LIMIT 10",
      k.toString)) ++
    classIds.map(k => QueryCase("optional",
      s"SELECT ?s ?m WHERE { ?s a <${cls(k)}> . OPTIONAL { ?s <${EX}email> ?m } }", cls(k)))
  }

  /** A result row as text; rows of unordered shapes are compared sorted. */
  def render(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("\t"))

  def canonical(shape: String, rows: Seq[String]): Seq[String] =
    if (shape == "filter_order") rows else rows.sorted

  /** Reference answers of every case, keyed by (shape, key). */
  def reference(edges: DataFrame, nodes: DataFrame,
                cases: Seq[QueryCase]): Map[(String, String), Seq[String]] = {
    val e = edges.select("subj_id", "pred", "obj_id")
    def keys(shape: String) = cases.filter(_.shape == shape).map(_.key).distinct
    def byPred(p: String) = e.filter(col("pred") === p)
    def grouped(shape: String, df: DataFrame, keyOf: Map[String, String]) = {
      val rows = df.collect()
      keys(shape).map { k =>
        val mine = rows.filter(r => keyOf(r.getString(0)) == k).map(r => Row.fromSeq(r.toSeq.tail))
        (shape, k) -> canonical(shape, render(mine))
      }
    }
    def idKeys(ks: Seq[String]) = ks.map(k => iriId(k) -> k).toMap

    val lookup = {
      val ks = idKeys(keys("lookup"))
      grouped("lookup", e.filter(col("subj_id").isin(ks.keys.toSeq: _*)), ks)
    }
    val star = {
      val ks = idKeys(keys("star"))
      val t = byPred(RdfType).filter(col("obj_id").isin(ks.keys.toSeq: _*))
        .select(col("obj_id").as("cls"), col("subj_id").as("s"))
      val n = byPred(EX + "name").select(col("subj_id").as("s"), col("obj_id").as("n"))
      val a = byPred(EX + "age").select(col("subj_id").as("s"), col("obj_id").as("a"))
      grouped("star", t.join(n, "s").join(a, "s").select("cls", "s", "n", "a"), ks)
    }
    val knows = byPred(EX + "knows")
    val path2 = {
      val ks = idKeys(keys("path2"))
      val k1 = knows.filter(col("subj_id").isin(ks.keys.toSeq: _*))
        .select(col("subj_id").as("x"), col("obj_id").as("y"))
      val k2 = knows.select(col("subj_id").as("y"), col("obj_id").as("z"))
      grouped("path2", k1.join(k2, "y").select("x", "y", "z"), ks)
    }
    val closure = {
      // partOf is a forest: the ancestors of a node are the chain of
      // parents, walked over the collected (node, parent) pairs
      val up = byPred(EX + "partOf").select("subj_id", "obj_id").distinct().collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      keys("closure").map { k =>
        val chain = Iterator.iterate(up.get(iriId(k)))(_.flatMap(up.get))
          .takeWhile(_.isDefined).map(_.get).toSeq
        ("closure", k) -> canonical("closure", chain)
      }
    }
    val groupcount = {
      val ks = keys("groupcount").map(p => p -> p).toMap
      grouped("groupcount", e.filter(col("pred").isin(ks.keys.toSeq: _*))
        .groupBy("pred", "obj_id").agg(count(col("subj_id")).as("n")), ks)
    }
    val filterOrder = {
      val ages = byPred(EX + "age").join(nodes, col("obj_id") === col("id"))
        .filter(col("dt") === XsdInteger)
        .select(col("subj_id"), col("obj_id"), col("value").cast("long").as("v"))
      keys("filter_order").map { k =>
        val top = ages.filter(col("v") > k.toLong).orderBy(col("v").desc, col("subj_id").asc)
          .limit(10).select("subj_id", "obj_id").collect()
        ("filter_order", k) -> render(top)
      }
    }
    val optional = {
      val ks = idKeys(keys("optional"))
      val t = byPred(RdfType).filter(col("obj_id").isin(ks.keys.toSeq: _*))
        .select(col("obj_id").as("cls"), col("subj_id").as("s"))
      val m = byPred(EX + "email").select(col("subj_id").as("s"), col("obj_id").as("m"))
      grouped("optional", t.join(m, Seq("s"), "left").select("cls", "s", "m"), ks)
    }
    (lookup ++ star ++ path2 ++ closure ++ groupcount ++ filterOrder ++ optional).toMap
  }
}
