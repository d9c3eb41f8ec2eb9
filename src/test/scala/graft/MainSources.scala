package graft

/** Every line of `src/main/scala` as ("path:line", text) — for the
  * specs that pin where an idiom may appear in the program source.
  * Tests run from the repo root.
  */
object MainSources {
  lazy val lines: List[(String, String)] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    require(Files.isDirectory(root), s"expected to run from the repo root; missing $root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
      .flatMap { f =>
        Files.readAllLines(f, java.nio.charset.StandardCharsets.UTF_8).asScala
          .zipWithIndex.map { case (l, i) => (s"$f:${i + 1}", l) }
      }
  }
}
