package graftbench

import java.io.{BufferedOutputStream, BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable

/** Seeded workbook generator.
  *
  * `Fixtures workbook <dir> <seed> <rows>` writes `<dir>/wb.xlsx` and,
  * beside it, `wb.csv` holding the same rows as the xlsx source is
  * expected to read them (the text cells of the numeric column become
  * empty, i.e. NULL).
  *
  * Rows follow the reference's shape: a unique string key, numeric
  * columns and one 8-value group column. About 1 % of `latency_ms` cells
  * hold text, which the source must coerce to NULL. Every numeric value
  * is a multiple of 1/4, so sums are exact in binary floating point and
  * results can be compared with the oracle's without a tolerance on
  * sums.
  *
  * Unlike `graft.sources.xlsx.XlsxWriter`, rows stream through the
  * `ZipOutputStream` one at a time, and strings go to a shared-strings
  * table, as Excel writes them.
  *
  * `Fixtures oracle-sql <out.json> <q1,q2,...>` writes the DuckDB oracle
  * SQL of the named catalog queries.
  */
object Fixtures {

  private val header: Seq[String] =
    Seq("service_name", "region", "requests", "latency_ms", "cost", "errors")
  private val regions: Seq[String] =
    Seq("north", "south", "east", "west", "central", "coastal", "mountain", "island")
  private val textCells = Seq("n/a", "timeout", "pending")

  def main(args: Array[String]): Unit = args.toList match {
    case "workbook" :: dir :: seed :: rows :: Nil =>
      Files.createDirectories(Paths.get(dir))
      writeOne(s"$dir/wb.xlsx", s"$dir/wb.csv", new SplittableRandom(seed.toLong), rows.toInt)
    case "oracle-sql" :: out :: names :: Nil =>
      val oracle = graft.SparkEntry.oracleSql
      val json = names.split(",").toSeq.map { n =>
        Json.str(n) + ": " + Json.str(oracle.getOrElse(n,
          throw new IllegalArgumentException(s"no oracle for $n")))
      }.mkString("{", ", ", "}")
      Files.writeString(Paths.get(out), json)
    case _ =>
      System.err.println("usage: Fixtures workbook <dir> <seed> <rows> | " +
        "oracle-sql <out.json> <names>")
      sys.exit(2)
  }

  private def colRef(i: Int): String = ('A' + i).toChar.toString

  private def writeOne(xlsx: String, csv: String, rnd: SplittableRandom, rows: Int): Unit = {
    val shared = mutable.LinkedHashMap[String, Int]()
    var sharedRefs = 0L
    def sst(s: String): Int = { sharedRefs += 1; shared.getOrElseUpdate(s, shared.size) }

    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(xlsx), 1 << 16))
    val sheet = new BufferedWriter(new OutputStreamWriter(zos, UTF_8), 1 << 16)
    val copy = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(csv), UTF_8), 1 << 16)
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(UTF_8))
      zos.closeEntry()
    }
    val xmlHead = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\n"
    entry("[Content_Types].xml", xmlHead +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
      """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
      "</Types>")
    entry("_rels/.rels", xmlHead +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
      "</Relationships>")
    entry("xl/workbook.xml", xmlHead +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels", xmlHead +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
      """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""" +
      "</Relationships>")

    zos.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    sheet.write(xmlHead +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def strCell(ci: Int, r: Int, s: String): Unit =
      sheet.write(s"""<c r="${colRef(ci)}$r" t="s"><v>${sst(s)}</v></c>""")
    def numCell(ci: Int, r: Int, v: Double): Unit =
      sheet.write(s"""<c r="${colRef(ci)}$r"><v>${fmt(v)}</v></c>""")

    sheet.write("""<row r="1">""")
    header.zipWithIndex.foreach { case (h, i) => strCell(i, 1, h) }
    sheet.write("</row>")
    copy.write(header.mkString(",")); copy.write('\n')

    var i = 0
    while (i < rows) {
      val r = i + 2
      val key = f"svc-$i%08d-${rnd.nextInt(1 << 16)}%04x"
      val region = regions(rnd.nextInt(regions.size))
      val requests = rnd.nextInt(100000).toDouble
      val latencyText = rnd.nextInt(100) == 0
      val latency = rnd.nextInt(40000) / 4.0
      val cost = rnd.nextInt(40000) / 4.0
      val errors = if (rnd.nextInt(10) < 3) 0.0 else rnd.nextInt(50).toDouble
      sheet.write(s"""<row r="$r">""")
      strCell(0, r, key)
      strCell(1, r, region)
      numCell(2, r, requests)
      if (latencyText) strCell(3, r, textCells(rnd.nextInt(textCells.size)))
      else numCell(3, r, latency)
      numCell(4, r, cost)
      numCell(5, r, errors)
      sheet.write("</row>")
      copy.write(Seq(key, region, fmt(requests),
        if (latencyText) "" else fmt(latency), fmt(cost), fmt(errors)).mkString(","))
      copy.write('\n')
      i += 1
    }
    sheet.write("</sheetData></worksheet>")
    sheet.flush()
    zos.closeEntry()

    zos.putNextEntry(new ZipEntry("xl/sharedStrings.xml"))
    sheet.write(xmlHead +
      s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="$sharedRefs" uniqueCount="${shared.size}">""")
    // keys, regions and the text cells hold no XML metacharacters
    shared.keysIterator.foreach(s => sheet.write(s"<si><t>$s</t></si>"))
    sheet.write("</sst>")
    sheet.flush()
    zos.closeEntry()
    zos.close()
    copy.close()
  }

  /** A decimal that reads back as the same double. */
  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
}
