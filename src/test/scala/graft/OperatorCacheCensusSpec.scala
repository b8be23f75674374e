package graft

import java.lang.reflect.Modifier

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CacheScope

/** Each `graft.operators` operator persists at one fixed level: no public
  * method of an operator object takes a `StorageLevel`, and the only one
  * taking a `CacheScope` is `Dedup.ngramJaccard` (`CorpusPipeline.clean`
  * passes its own scope there and releases it). */
class OperatorCacheCensusSpec extends AnyFunSuite {

  /** Every compiled Scala object (`Name$` module class) in the package,
    * nested ones included, read from the directory or jar holding it. */
  private def operatorObjects: Seq[Class[_]] = {
    val pkg = "graft/operators/"
    val url = getClass.getClassLoader.getResource(pkg)
    assert(url != null, s"$pkg is not on the test classpath")
    val names: Seq[String] = url.getProtocol match {
      case "file" =>
        new java.io.File(url.toURI).listFiles().toSeq.map(_.getName)
      case "jar" =>
        val conn = url.openConnection().asInstanceOf[java.net.JarURLConnection]
        conn.getJarFile.entries().asScala.map(_.getName)
          .filter(n => n.startsWith(pkg) && !n.stripPrefix(pkg).contains("/"))
          .map(_.stripPrefix(pkg)).toSeq
      case other => fail(s"unsupported classpath protocol $other for $pkg")
    }
    names.filter(_.endsWith("$.class"))
      .map(n => Class.forName("graft.operators." + n.stripSuffix(".class")))
      .filter(c => scala.util.Try(c.getField("MODULE$")).isSuccess)
  }

  /** (Object.method, parameter types) for every public, non-synthetic
    * method declared by an operator object. */
  private def publicMethods: Seq[(String, Seq[Class[_]])] =
    for {
      c <- operatorObjects
      m <- c.getDeclaredMethods.toSeq
      if Modifier.isPublic(m.getModifiers) && !m.isSynthetic && !m.isBridge
    } yield (s"${c.getName.stripPrefix("graft.operators.").stripSuffix("$")}.${m.getName}",
      m.getParameterTypes.toSeq)

  test("no operator takes a StorageLevel; only Dedup.ngramJaccard takes a CacheScope") {
    val methods = publicMethods
    // the scan really sees the operator surface
    val seen = methods.map(_._1).toSet
    for (m <- Seq("Dedup.ngramJaccard", "Dedup.semanticDedup", "KeywordSearch.bm25Batch",
                  "Similarity.pqTopK", "CorpusPipeline.clean", "TextClassifier.train"))
      assert(seen.contains(m), s"$m missing from the reflected operator surface")
    def taking(cls: Class[_]) =
      methods.filter(_._2.exists(p => cls.isAssignableFrom(p))).map(_._1).distinct.sorted
    assert(taking(classOf[StorageLevel]).isEmpty)
    assert(taking(classOf[CacheScope]) == Seq("Dedup.ngramJaccard"))
  }
}
