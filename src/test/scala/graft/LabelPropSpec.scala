package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentLinkedQueue
import graft.queries.ScaleQueries

/** Connected components of the dedup candidate graph: the labels of
  * `dedupGroupsFrom` equal a union-find's component minima, and each
  * propagation round runs as exactly one Spark job. */
class LabelPropSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  /** (a, b) pairs along `ids` in order. */
  private def chain(ids: Seq[Long]): Seq[(Long, Long)] = ids.zip(ids.tail)

  test("labels are the union-find component minima, one job per round") {
    import spark.implicits._
    // a 128-vertex chain with its minimum at one end: 127 hops to carry it
    val endMin = chain(1000L until 1128L)
    // a 65-vertex chain with its minimum (3000) in the middle
    val midMin = chain((0 to 64).map(j => 3000L + 2 * math.abs(j - 32) + (if (j < 32) 1 else 0)))
    // cliques of 3, 4 and 5, listed in both orders, with a self pair
    val cliques = Seq(5000L, 5100L, 5200L).zip(Seq(3, 4, 5)).flatMap { case (base, k) =>
      for (a <- 0 until k; b <- 0 until k if a != b) yield (base + a, base + b)
    } :+ (5000L -> 5000L)
    val pairs = (endMin ++ midMin ++ cliques).map { case (a, b) => (Option(a), Option(b)) }
    // a null endpoint joins nothing: 7777 stays a singleton
    val cands = (pairs ++ Seq((Option(7777L), Option.empty[Long]),
      (Option.empty[Long], Option(1000L)))).toDF("doc_id", "b_id")
    val vertices = pairs.flatMap { case (a, b) => Seq(a.get, b.get) }.distinct
    val ids = vertices ++ Seq(7777L) ++ (9000L until 9010L)
    val docs = ids.toDF("doc_id")

    // union-find with the smaller root kept, so a root is its component's min
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.get), find(b.get))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = ids.map(i => i -> find(i)).toMap

    val jobs = new ConcurrentLinkedQueue[String]()
    val events = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(events)
    val got = try {
      val rows = ScaleQueries.dedupGroupsFrom(cands, docs).as[(Long, Long)].collect()
      // events arrive in order: once this marker job's start is seen,
      // every round's job is in the queue
      graft.io.Commit.labeled(spark, "labelprop-spec:end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.contains("labelprop-spec:end") && System.nanoTime() < deadline) Thread.sleep(20)
      rows
    } finally sc.removeSparkListener(events)

    assert(got.length == ids.size, "one row per document")
    assert(got.toMap == want, "labels differ from the union-find")

    val perRound = jobs.toArray(Array.empty[String]).toSeq
      .filter(_.startsWith("labelprop:round")).groupBy(identity).map { case (l, js) => l -> js.size }
    val rounds = perRound.size
    info(s"$rounds rounds")
    assert(perRound.keySet == (0 until rounds).map(n => s"labelprop:round$n").toSet,
      s"round labels: ${perRound.keys}")
    assert(perRound.values.forall(_ == 1), s"jobs per round: $perRound")
    // 127 hops along the end-min chain, then one round that changes nothing
    assert(rounds == 128)
  }
}
