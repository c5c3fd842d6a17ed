package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one session builder: what it registers, and that nothing else in
  * the sources builds a session of its own. */
class GraftSessionSpec extends AnyFunSuite with SparkSpecBase {

  test("the shared session has graft's rule, SQL functions and cpus-wide shuffles") {
    assert(spark.experimental.extraOptimizations
      .contains(graft.plan.InferDisjunctionHulls))
    assert(spark.sql("SELECT graft_dot(array(1f, 2f), array(3f, 4f))")
      .head().getDouble(0) == 11.0)
    assert(spark.sql("SELECT graft_hll_distinct(xxhash64(id)) FROM range(1000)")
      .head().getLong(0) > 900L)
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      SparkSpecBase.cpus.toString)
    assert(spark.sparkContext.master == s"local[${SparkSpecBase.cpus}]")
  }

  test("only GraftSession calls the session builder") {
    val call = "SparkSession" + ".builder()"
    def scalaFiles(root: Path): Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val files = Seq("src/main/scala", "src/test/scala").flatMap(d => scalaFiles(Paths.get(d)))
    assert(files.exists(_.endsWith("graft/GraftSession.scala")))
    val callers = files.filter(f => Files.readString(f).contains(call))
      .map(_.toString).sorted
    assert(callers == Seq("src/main/scala/graft/GraftSession.scala"),
      "build the session with GraftSession.local instead")
  }
}
