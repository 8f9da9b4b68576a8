package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.ops.Similarity
import graft.stages.MergeTable

/** The persisted graph ANN index through its public calls: build, add,
  * search, and the filtered walk. Queries are the corpus rows with
  * `vec_id < numQueries`, self excluded, as the calls define them. */
object Ann {

  val numQueries = 16
  val k = 10
  val degree = 6

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def frame(spark: SparkSession, v: Gen.Vectors, ids: Range): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(ids.map(i => Row(v.ids(i), v.emb(i).toSeq, v.labels(i))).asJava, schema)
  }

  final case class Index(cent: MergeTable, node: MergeTable, adj: MergeTable, meta: MergeTable)

  def index(root: Path): Index = Index(
    new MergeTable(root.resolve("centroids").toString, Seq("c_id")),
    new MergeTable(root.resolve("nodes").toString, Seq("vec_id")),
    new MergeTable(root.resolve("adjacency").toString, Seq("src")),
    new MergeTable(root.resolve("meta").toString, Seq("key")))

  def build(spark: SparkSession, emb: DataFrame, ix: Index, n: Int): Unit =
    Similarity.graphIndexBuild(spark, emb, ix.cent, ix.node, ix.adj, ix.meta,
      centroidIdBound = math.ceil(math.sqrt(n.toDouble)).toInt, degree = degree)

  def add(spark: SparkSession, emb: DataFrame, ix: Index): Unit =
    Similarity.graphIndexAdd(spark, emb, ix.cent, ix.node, ix.adj, ix.meta)

  /** (query id, neighbour id, cosine) rows of one search batch. */
  def search(spark: SparkSession, queries: DataFrame, ix: Index): Seq[(Long, Long, Double)] =
    triples(Similarity.graphIndexSearch(spark, queries, ix.cent, ix.node, ix.adj, ix.meta,
      numQueries, k, beam = 16, rounds = 6))

  def filtered(spark: SparkSession, emb: DataFrame, label: Int): Seq[(Long, Long, Double)] =
    triples(Similarity.filteredGraphTopK(spark, emb, label, numQueries, k,
      degree = degree, beam = 32, rounds = 6, entries = 8))

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("query_id", "neighbor_id", "cosine").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def cosine(v: Gen.Vectors, a: Int, b: Int): Double =
    dot(v.emb(a), v.emb(b)) / (math.sqrt(dot(v.emb(a), v.emb(a))) * math.sqrt(dot(v.emb(b), v.emb(b))))

  /** Checks one batch against exact brute force over `corpus` (the ids the
    * call searched), keeping only ids with `label` when given. Returns the
    * errors and the batch's recall@k. */
  def check(v: Gen.Vectors, got: Seq[(Long, Long, Double)], corpus: Range,
            label: Option[Int]): (Seq[String], Double) = {
    val errs = Seq.newBuilder[String]
    val byQuery = got.groupBy(_._1)
    val hits = (0 until numQueries).map { q =>
      val rows = byQuery.getOrElse(q.toLong, Nil)
      val ids = rows.map(_._2.toInt)
      if (ids.size != k || ids.distinct.size != k) errs += s"query $q: ${ids.distinct.size} distinct of ${ids.size} ids"
      if (ids.contains(q)) errs += s"query $q returned itself"
      rows.foreach { case (_, n, c) =>
        val want = cosine(v, q, n.toInt)
        if (math.abs(c - want) > 1e-9) errs += s"query $q neighbour $n cosine $c != $want"
        if (label.exists(_ != v.labels(n.toInt))) errs += s"query $q neighbour $n label ${v.labels(n.toInt)}"
      }
      val exact = corpus.filter(i => i != q && label.forall(_ == v.labels(i)))
        .map(i => (-cosine(v, q, i), i)).sorted.take(k).map(_._2).toSet
      ids.count(exact.contains)
    }
    (errs.result().take(5), hits.sum.toDouble / (numQueries * k))
  }
}
