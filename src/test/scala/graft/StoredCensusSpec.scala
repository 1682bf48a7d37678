package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Stored` is the only place in src/main that stores or releases a
  * frame, so every stored frame has a form chosen by one rule and a
  * lifetime a scope can end. A `.persist(`, `.cache(`, `.localCheckpoint(`,
  * `.checkpoint(` or `.unpersist(` call anywhere else fails this census;
  * comments count too, so none can hide a call. */
class StoredCensusSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")
  private val call = """\.(persist|cache|localCheckpoint|checkpoint|unpersist)\(""".r
  private val owner = "graft/Stored.scala"

  private def sites(src: String): Seq[String] =
    src.split("\n").toSeq.filter(l => call.findFirstIn(l).isDefined)

  test("only Stored.scala stores or releases a frame") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no sources under $root — run from the repo root")
    val rels = files.map(p => root.relativize(p).toString.replace('\\', '/'))
    assert(rels.contains(owner))
    val stray = files.zip(rels).filter(_._2 != owner).flatMap { case (p, rel) =>
      sites(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).map(l => s"$rel: ${l.trim}")
    }
    assert(stray.isEmpty,
      s"${stray.size} store/release calls outside $owner — use Stored.now/once/cached " +
        "and Stored.scoped:\n" + stray.mkString("\n"))
  }

  test("the census counts every store and release form") {
    val fake = Seq("df.persist(lvl)", "df.cache()", "df.localCheckpoint(false)",
      "rdd.checkpoint()", "df.unpersist()", "Stored.now(df)", "df.cached", "// cache it")
    assert(sites(fake.mkString("\n")).size == 5)
  }
}
