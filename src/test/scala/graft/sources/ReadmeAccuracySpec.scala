package graft.sources

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Doc-accuracy pins. The README's procedures table must list EXACTLY
  * the set `GraftCatalog.listProcedures` registers: a procedure added to
  * the catalog without a documented row — or a documented row whose
  * procedure was dropped/renamed — fails here, so the README can't
  * silently drift from the SQL surface users discover procedures
  * through. Likewise every dev main the docs and tools name must still
  * exist. */
class ReadmeAccuracySpec extends AnyFunSuite {

  test("README procedures table matches the registered set exactly") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), java.nio.charset.StandardCharsets.UTF_8)
    // rows of the procedures table: | `name` | ... |
    val row = """(?m)^\|\s*`([a-z_]+)`\s*\|""".r
    val documented = row.findAllMatchIn(readme).map(_.group(1)).toSet
    assert(documented.nonEmpty, "procedures table not found in README.md")

    val cat = new GraftCatalog()
    cat.initialize("readme_pin", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", java.nio.file.Files.createTempDirectory("readme_pin").toString)))
    val registered = cat.listProcedures(Array("sys")).map(_.name()).toSet

    assert(documented == registered,
      s"README procedures table drifted from the registry:\n" +
        s"  documented-only: ${(documented -- registered).toSeq.sorted.mkString(", ")}\n" +
        s"  registered-only: ${(registered -- documented).toSeq.sorted.mkString(", ")}")
  }

  test("every graft.<Main> named by the docs and tools is a runnable main") {
    def read(p: java.nio.file.Path): String = new String(
      java.nio.file.Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
    val tools = java.nio.file.Files.list(java.nio.file.Paths.get("tools"))
    val docs = try Seq("README.md", ".claude/skills/verify/SKILL.md")
      .map(java.nio.file.Paths.get(_)) ++
      tools.iterator().asScala.filter(_.toString.endsWith(".py"))
    finally tools.close()
    // `graft.Verify`, but not a member reference like `graft.Tables.events`
    val main = """graft\.([A-Z]\w*)\b(?!\.\w)""".r
    val named = docs.flatMap(p => main.findAllMatchIn(read(p)).map(m => (p, m.group(1))))
    assert(named.map(_._2).toSet.contains("Verify"), "no main found in the docs")
    val broken = named.filterNot { case (_, n) =>
      try java.lang.reflect.Modifier.isStatic(
        Class.forName(s"graft.$n").getMethod("main", classOf[Array[String]]).getModifiers)
      catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }
    }
    assert(broken.isEmpty, s"docs name mains that don't exist: ${broken.mkString(", ")}")
  }
}
