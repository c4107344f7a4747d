package graft

import java.io.{File, FileInputStream}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The test JVM runs on the classpath every engine JVM gets: Spark's jars
  * minus the families in `project/dropped-jars.properties`, each jar once.
  * Every jar on the classpath keeps its central directory on the heap, so
  * a dropped family that creeps back, or a second copy of a jar, costs
  * every process. */
class ClasspathSpec extends AnyFunSuite {

  private val jars: Seq[String] =
    System.getProperty("java.class.path").split(File.pathSeparator).toSeq
      .filter(_.endsWith(".jar")).map(p => new File(p).getName)

  private val dropped: Seq[String] = {
    val props = new Properties
    val in = new FileInputStream("project/dropped-jars.properties")
    try props.load(in) finally in.close()
    props.values.asScala.toSeq.flatMap(_.toString.trim.split("\\s+"))
  }

  test("no jar of a dropped family is on the classpath") {
    assert(dropped.nonEmpty)
    val globs = dropped.map(g => g.split("\\*", -1).map(java.util.regex.Pattern.quote)
      .mkString(".*").r)
    val present = jars.filter(j => globs.exists(_.matches(j)))
    assert(present.isEmpty, present)
    assert(jars.exists(_.startsWith("spark-sql_")), jars)
  }

  test("no jar file name appears twice on the classpath") {
    val twice = jars.groupBy(identity).collect { case (j, n) if n.size > 1 => j }
    assert(twice.isEmpty, twice)
  }
}
