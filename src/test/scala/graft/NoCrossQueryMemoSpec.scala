package graft

import org.scalatest.funsuite.AnyFunSuite

/** A gate trains what it needs every time it is built: running the same
  * gate twice in one session fires as many Spark jobs the second time as
  * the first, and returns the same rows. Work is reused across queries
  * only through persisted artifacts, never through a hidden memo.
  */
class NoCrossQueryMemoSpec extends AnyFunSuite {
  import TestSpark._

  private def run(name: String): (Int, Seq[String]) = {
    var rows = Seq.empty[String]
    val jobs = jobsFiredBy {
      rows = SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
    }
    (jobs, rows)
  }

  for ((name, table) <- Seq(
      "pl_communities" -> "documents", "pl_kmeans_objective" -> "embeddings"))
    test(s"$name: a second build in the same session redoes the work") {
      // the table's plan is resolved once per session (Tables.load); that
      // catalog lookup is not gate work, so resolve it before counting
      Tables.load(spark, sf, table).schema
      val (firstJobs, firstRows) = run(name)
      val (secondJobs, secondRows) = run(name)
      assert(firstJobs > 0)
      assert(secondJobs == firstJobs,
        s"second build fired $secondJobs jobs, first $firstJobs")
      assert(secondRows == firstRows, "rebuild must be bit-identical")
    }
}
