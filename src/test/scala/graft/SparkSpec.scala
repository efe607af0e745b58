package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, from the production builder: the
  * JVM-wide generated-code cache is sized by the first session that
  * generates code, so no suite may build its own first.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh dir under [[TmpDir.root]], deleted when the suite ends
    * (with the scratch dirs and parcel stages of the probes the suite ran).
    */
  def scratch(prefix: String): Path = {
    val d = Files.createTempDirectory(Paths.get(TmpDir.root), prefix)
    scratchDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try scratchDirs.forEach { d =>
      def delete(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(delete))
        f.delete()
      }
      delete(d.toFile)
    } finally try TmpDir.dropScratch()
    finally try graft.probes.ParityProbes.dropStages(spark) finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local("graft-test", 8)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
