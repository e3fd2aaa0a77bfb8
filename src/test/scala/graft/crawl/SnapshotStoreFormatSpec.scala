package graft.crawl

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The store has one format: every manifest names it, and opening a
  * store whose wave-0 manifest names no format or another one fails
  * loudly instead of crawling (there is no migration). */
class SnapshotStoreFormatSpec extends AnyFunSuite {

  private def newRoot(): String =
    Files.createTempDirectory("formatstore").toString

  private def manifest(root: String, wave: Int): String =
    Files.readString(Paths.get(root, "manifests", f"wave-$wave%06d.json"))

  /** A wave-0 manifest laid out as `commit` lays it out, with `header`
    * in place of the format line. */
  private def writeManifest(root: String, header: String): Unit = {
    Files.createDirectories(Paths.get(root, "manifests"))
    Files.writeString(Paths.get(root, "manifests", "wave-000000.json"),
      s"""{\n$header  "wave": 0,\n  "tables": {\n""" +
        s"""    "articles": {"path": "$root/data/articles/wave=0", "rows": 3}\n""" +
        "  }\n}\n")
  }

  test("a fresh commit writes format 1; table lines keep their shape") {
    val root = newRoot()
    new SnapshotStore(root).commit(0, Map("articles" -> 3L, "seen" -> -1L))
    assert(manifest(root, 0) ==
      s"""{\n  "format": 1,\n  "wave": 0,\n  "tables": {\n""" +
        s"""    "articles": {"path": "$root/data/articles/wave=0", "rows": 3},\n""" +
        s"""    "seen": {"path": "$root/data/seen/wave=0", "rows": -1}\n""" +
        "  }\n}\n")
    assert(new SnapshotStore(root).lastCommittedWave.contains(0))
  }

  test("a store whose manifest has no format field is refused at open") {
    val root = newRoot()
    writeManifest(root, "")
    val e = intercept[IllegalStateException](new SnapshotStore(root))
    assert(e.getMessage ==
      s"store $root has format none, expected format 1 " +
        "(stores of another format are not migrated)")
  }

  test("a store whose manifest names format 0 is refused at open") {
    val root = newRoot()
    writeManifest(root, "  \"format\": 0,\n")
    val e = intercept[IllegalStateException](new SnapshotStore(root))
    assert(e.getMessage ==
      s"store $root has format 0, expected format 1 " +
        "(stores of another format are not migrated)")
  }

  test("rolling back to wave 0 keeps the store openable") {
    val root = newRoot()
    val s = new SnapshotStore(root)
    (0 to 2).foreach(w => s.commit(w, Map("articles" -> 1L)))
    s.rollbackTo(0)
    val reopened = new SnapshotStore(root)
    assert(reopened.lastCommittedWave.contains(0))
    assert(manifest(root, 0).contains("\"format\": 1,"))
  }
}
