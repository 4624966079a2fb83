package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library reads configuration from the process environment and
  * JVM properties only for its documented deployment settings: the
  * model-bundle location and the `SPARK_GRAFT_*` variables of the
  * Bench/Verify mains. A new read — a hidden arm selector or a test
  * flag in main code — must be added here deliberately, so it cannot
  * slip in unnoticed.
  */
class DeploymentSettingsSpec extends AnyFunSuite {

  private val documented = Set(
    "GRAFT_MODELS_DIR",   // RefModels.dir
    "SPARK_GRAFT_SF_DIR", // Bench
    "SPARK_GRAFT_CPUS",   // Bench, Verify
    "SPARK_GRAFT_REPS",   // Bench
    "SPARK_GRAFT_ONLY")   // Bench

  private val reader = """sys\.props|sys\.env|System\.getProperty|System\.getenv"""
  private val access = reader.r
  private val keyedRead =
    raw"""(?:$reader)(?:\s*\.\s*(?:get|getOrElse|contains|apply))?\s*\(\s*"([^"]+)"""".r

  test("src/main reads exactly the documented deployment settings") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(files.nonEmpty, "src/main not found from the working directory")
    val reads = files.flatMap { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      val keys = keyedRead.findAllMatchIn(src).map(_.group(1)).toSeq
      // every access names its key literally, so the set below is total
      assert(access.findAllMatchIn(src).size === keys.size,
        s"$p reads a setting whose key is not a string literal")
      keys.map(_ -> p)
    }
    val found = reads.map(_._1).toSet
    assert(found === documented,
      s"undocumented: ${reads.filterNot(r => documented(r._1))}; " +
        s"documented but unread: ${documented -- found}")
  }
}
