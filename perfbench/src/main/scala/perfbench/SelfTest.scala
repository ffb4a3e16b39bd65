package perfbench

import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods.{compact, render}

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** The benchmark's own mutation checks: on a small load, every output
  * check passes on the real outputs and fails when one index row is
  * dropped or one download row is altered. Exit code 0 iff all hold. */
object SelfTest {
  def run(root: Path): Int = {
    val work = root.resolve(".bench_build/selftest")
    Main.rm(work)
    val spark = Main.session(root)
    var ok = true
    def expect(what: String, cond: Boolean): Unit = {
      println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $what")
      ok &&= cond
    }
    try {
      val sz = Sizes(archives = 2, rowsPerArchive = 300, mediaPerArchive = 2, dupRowsPerArchive = 3)
      val data = work.resolve("data")
      Gen.generate("serve_mix", 11L, sz, data)
      val m = Main.manifest(data) \ "load"
      val off = new Tracer(spark.sparkContext, enabled = false)
      val lc = new Lifecycle(spark, off, data, work.resolve("lc"))
      lc.bulkLoad(sz.archives)
      def loadFails(): Long = { val ck = new Checks; Main.checkLoad(lc, m, ck, ck.op()); ck.failed }
      expect("load checks pass on the real outputs", loadFails() == 0)

      val q = compact(render((m \ "searches").children.head \ "q"))
      val expected = Main.num((m \ "searches").children.head \ "expect")
      val zip = lc.download(q, -1, work.resolve("dl/r.zip"))
      def dlFails(z: Path): Long = {
        val ck = new Checks
        Main.checkDownload(spark, lc, q, z, work.resolve(s"dl/x${System.nanoTime()}"), expected, ck, ck.op())
        ck.failed
      }
      expect("download check passes on the real zip", dlFails(zip) == 0)
      expect("download check fails when one row is altered", dlFails(alterOneRow(zip, work.resolve("dl/bad.zip"))) == 1)

      lc.rewriteIndex(_.orderBy(col("uuid")).offset(1))
      expect("load checks fail when one index row is dropped", loadFails() == 1)
    } finally {
      spark.stop()
      Main.rm(work)
    }
    if (ok) 0 else 1
  }

  /** Copy `zip` with the first data row of occurrence.csv changed. */
  private def alterOneRow(zip: Path, out: Path): Path = {
    val zf = new java.util.zip.ZipFile(zip.toFile)
    val files = try zf.entries().asIterator().asScala.map { e =>
      e.getName -> new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
    }.toMap finally zf.close()
    val lines = files("occurrence.csv").split("\n", -1)
    lines(1) = lines(1).replaceFirst(",", ",x")
    graft.export.Exports.writeDwcaZip(out.toString, files + ("occurrence.csv" -> lines.mkString("\n")))
    out
  }

}
