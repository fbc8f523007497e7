package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable

/** Seeded generator of the four reference-shaped raw inputs of the
  * state-economics job, at a size set by `counties` (unemployment sheet
  * rows) and `lines` (GDP industry lines). Every quirk the pipeline
  * handles is present: the xlsx's junk leading rows, header row, junk
  * first column and footer; `(NA)`/`(D)` GDP cells; quoted and
  * space-padded FIPS; ` *`-suffixed names; footer lines in the GDP CSV;
  * a Windows-1252 min-wage CSV with 0-wage (0/0 → NaN) rows; and
  * territories that the pipeline's inner joins drop. The generator also
  * returns the row count each of the 11 output tables must have, derived
  * from what it wrote — the pipeline itself is never consulted.
  *
  * Standalone: `Main gen <seed> <dir>` writes the files and prints the
  * expected counts. */
object InputGen {

  final case class Generated(unemploymentXlsx: String, gdpCsv: String,
                             schoolExpenseCsv: String, minWageCsv: String,
                             expected: Map[String, Long])

  private val States: Seq[(Int, String, String)] = Seq(
    (1, "Alabama", "AL"), (2, "Alaska", "AK"), (4, "Arizona", "AZ"),
    (5, "Arkansas", "AR"), (6, "California", "CA"), (8, "Colorado", "CO"),
    (9, "Connecticut", "CT"), (10, "Delaware", "DE"),
    (11, "District of Columbia", "DC"), (12, "Florida", "FL"),
    (13, "Georgia", "GA"), (15, "Hawaii", "HI"), (16, "Idaho", "ID"),
    (17, "Illinois", "IL"), (18, "Indiana", "IN"), (19, "Iowa", "IA"),
    (20, "Kansas", "KS"), (21, "Kentucky", "KY"), (22, "Louisiana", "LA"),
    (23, "Maine", "ME"), (24, "Maryland", "MD"), (25, "Massachusetts", "MA"),
    (26, "Michigan", "MI"), (27, "Minnesota", "MN"), (28, "Mississippi", "MS"),
    (29, "Missouri", "MO"), (30, "Montana", "MT"), (31, "Nebraska", "NE"),
    (32, "Nevada", "NV"), (33, "New Hampshire", "NH"), (34, "New Jersey", "NJ"),
    (35, "New Mexico", "NM"), (36, "New York", "NY"),
    (37, "North Carolina", "NC"), (38, "North Dakota", "ND"), (39, "Ohio", "OH"),
    (40, "Oklahoma", "OK"), (41, "Oregon", "OR"), (42, "Pennsylvania", "PA"),
    (44, "Rhode Island", "RI"), (45, "South Carolina", "SC"),
    (46, "South Dakota", "SD"), (47, "Tennessee", "TN"), (48, "Texas", "TX"),
    (49, "Utah", "UT"), (50, "Vermont", "VT"), (51, "Virginia", "VA"),
    (53, "Washington", "WA"), (54, "West Virginia", "WV"),
    (55, "Wisconsin", "WI"), (56, "Wyoming", "WY"))
  private val Regions = Seq("New England", "Mideast", "Great Lakes", "Plains",
    "Southeast", "Southwest", "Rocky Mountain", "Far West")
  // states without a state minimum wage: their rows carry 0 → 0/0 = NaN
  private val NoMinWage = Set("Alabama", "Louisiana", "Mississippi",
    "South Carolina", "Tennessee")
  private val Territories = Seq("Guam", "U.S. Virgin Islands")

  def write(dir: Path, seed: Long, counties: Int, lines: Int): Generated = {
    Files.createDirectories(dir)
    val rnd = new scala.util.Random(seed)
    val unempYears = 2014 to 2022
    val gdpYears = 1997 to 2020
    def fips(f: Int): String = f"$f%05d"

    // ---- unemployment xlsx ------------------------------------------
    val sheet = mutable.ArrayBuffer[Seq[Any]](
      Seq("Unemployment and median household income for the U.S., States, and counties, 2014-22"),
      Seq(null, "Source: synthetic ERS-shaped report"),
      Seq("", "FIPS ", "Name") ++ unempYears.map(_.toString) :+
        "Median Household Income (2021)")
    val unempGeos = mutable.ArrayBuffer[(Int, String)]((0, "United States"))
    States.foreach { case (s, name, _) => unempGeos += ((s * 1000, name)) }
    unempGeos += ((72000, "Puerto Rico"))
    for (i <- 0 until counties) {
      val (s, _, abbr) = States(i % States.size)
      val c = 2 * (i / States.size) + 1
      unempGeos += ((s * 1000 + c, s"County $c, $abbr"))
    }
    var unempRows = 0L
    var incomeRows = 0L
    unempGeos.foreach { case (f, name) =>
      val rates = unempYears.map { _ =>
        if (f == 72000 && rnd.nextInt(3) == 0 || rnd.nextDouble() < 0.03) null
        else { unempRows += 1; math.rint((2.0 + rnd.nextDouble() * 13.0) * 10) / 10 }
      }
      val income =
        if (f == 72000 || rnd.nextDouble() < 0.02) null
        else {
          incomeRows += 1
          val v = 30000 + rnd.nextInt(90000)
          f"$$${v / 1000},${v % 1000}%03d"
        }
      sheet += (Seq(if (rnd.nextBoolean()) "x" else "", fips(f), name) ++ rates :+ income)
    }
    sheet += Seq(null, null, "Source: Bureau of Labor Statistics, footnote row")
    val xlsx = dir.resolve("unemployment.xlsx")
    writeXlsx(xlsx, sheet.toSeq)

    // ---- GDP csv ------------------------------------------------------
    val gdpGeos: Seq[(Int, String, String)] =
      Seq((0, "United States *", "")) ++
        States.zipWithIndex.map { case ((s, name, _), i) =>
          (s * 1000, if (i % 7 == 3) s"$name *" else name, (1 + i % 8).toString) } ++
        Regions.zipWithIndex.map { case (r, i) => (91000 + i * 1000, r, (i + 1).toString) }
    var gdpCells = 0L
    val gdp = new StringBuilder(
      "GeoFIPS,GeoName,Region,TableName,LineCode,IndustryClassification,Description,Unit," +
        gdpYears.mkString(",") + "\n")
    gdpGeos.foreach { case (f, name, region) =>
      val geo = if (rnd.nextBoolean()) s""" "${fips(f)}"""" else s""""${fips(f)}""""
      for (line <- 1 to lines) {
        val desc = if (line == 1) "All industry total" else s"   Industry $line"
        val cls = if (line == 1) "..." else (10 + line).toString
        val cells = gdpYears.map { _ =>
          val u = rnd.nextDouble()
          if (u < 0.04) "(NA)"
          else if (u < 0.06) "(D)"
          else { gdpCells += 1; f"${rnd.nextDouble() * 1e5}%.1f" }
        }
        gdp ++= s"""$geo,$name,${if (region.isEmpty) "" else " " + region},SAGDP2N,$line,$cls,$desc,Millions of current dollars,${cells.mkString(",")}\n"""
      }
    }
    gdp ++= "Note: See the included footnote file.\n"
    gdp ++= "  Last updated: synthetic release.\n"
    gdp ++= "Source: U.S. Department of Commerce / Bureau of Economic Analysis\n"
    gdp ++= "(NA) Not available.\n"
    val gdpCsv = dir.resolve("gdp.csv")
    Files.write(gdpCsv, gdp.toString.getBytes(StandardCharsets.UTF_8))

    // ---- school expenses csv -----------------------------------------
    val schoolStates = States.map(_._2) :+ "Guam"
    val triples = for (t <- Seq("Private", "Public In-State", "Public Out-of-State");
                       l <- Seq("2-year", "4-year");
                       e <- Seq("Fees/Tuition", "Room/Board")) yield (t, l, e)
    val school = new StringBuilder("Year,State,Type,Length,Expense,Value\n")
    val seenTriples = mutable.Set[(String, String, String)]()
    var schoolKept = 0L
    for (y <- 2013 to 2021; st <- schoolStates; tr <- triples if rnd.nextDouble() >= 0.1) {
      seenTriples += tr
      if (st != "Guam") schoolKept += 1
      school ++= s"$y,$st,${tr._1},${tr._2},${tr._3},${2000 + rnd.nextInt(40000)}\n"
    }
    val schoolCsv = dir.resolve("school_expense.csv")
    Files.write(schoolCsv, school.toString.getBytes(StandardCharsets.UTF_8))

    // ---- minimum wage csv, windows-1252 ------------------------------
    val mwYears = 1968 to 2020
    val mwStates = States.map(_._2) ++ Seq("Puerto Rico") ++ Territories
    val mw = new StringBuilder(
      "Year,State,State.Minimum.Wage,State.Minimum.Wage.2020.Dollars," +
        "Federal.Minimum.Wage,Federal.Minimum.Wage.2020.Dollars,CPI.Average," +
        "Department.Of.Labor.Uncleaned.Data,Department.Of.Labor.Cleaned.Low.Value," +
        "Department.Of.Labor.Cleaned.High.Value,Footnote\n")
    var mwKept = 0L
    for (y <- mwYears) {
      val cpi = f"${34.8 + (y - 1968) * 4.1}%.1f"
      val fed = f"${1.15 + (y - 1968) * 0.12}%.2f"
      val fed2020 = f"${8.55 - (y - 1968) * 0.02}%.2f"
      val mult = 258.8 / (34.8 + (y - 1968) * 4.1)
      for (st <- mwStates) {
        if (!Territories.contains(st)) mwKept += 1
        val w = if (NoMinWage(st)) 0.0 else math.rint((0.5 + rnd.nextDouble() * 14) * 100) / 100
        val w2020 = math.rint(w * mult * 100) / 100
        val unclean = if (rnd.nextInt(5) == 0) f"$$${w}%.2f – $$${w + 0.5}%.2f/wk(b)" else ""
        val note = if (rnd.nextInt(4) == 0) "(b) series – revised" else ""
        mw ++= s"$y,$st,$w,$w2020,$fed,$fed2020,$cpi,$unclean,$w,${w + 0.25},$note\n"
      }
    }
    val mwCsv = dir.resolve("min_wage.csv")
    Files.write(mwCsv, mw.toString.getBytes(Charset.forName("windows-1252")))

    val locationGeos = (unempGeos.map(_._1) ++ gdpGeos.map(_._1)).distinct.size.toLong
    Generated(xlsx.toString, gdpCsv.toString, schoolCsv.toString, mwCsv.toString,
      Map(
        "table_location" -> locationGeos,
        "table_Unemployment" -> unempRows,
        "table_HouseholdIncome2021" -> incomeRows,
        "table_gdp" -> gdpCells,
        "table_industry" -> lines.toLong,
        "table_school_expense_type" -> seenTriples.size.toLong,
        "table_school_expenses" -> schoolKept,
        "table_state_min_wage" -> mwKept,
        "table_inflation" -> mwYears.size.toLong,
        "table_CPI" -> mwYears.size.toLong,
        "table_fed_min_wage" -> mwYears.size.toLong))
  }

  /** A minimal SpreadsheetML package: strings go through the shared-string
    * table (`t="s"`), numbers are plain `<v>` cells, nulls are absent. */
  private def writeXlsx(path: Path, rows: Seq[Seq[Any]]): Unit = {
    def esc(s: String): String = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    def colRef(i: Int): String =
      if (i < 26) ('A' + i).toChar.toString else colRef(i / 26 - 1) + ('A' + i % 26).toChar
    val shared = mutable.LinkedHashMap[String, Int]()
    val sheet = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    rows.zipWithIndex.foreach { case (row, r) =>
      sheet ++= s"""<row r="${r + 1}">"""
      row.zipWithIndex.foreach {
        case (null, _) =>
        case (v: Double, c) => sheet ++= s"""<c r="${colRef(c)}${r + 1}"><v>$v</v></c>"""
        case (v, c) =>
          val id = shared.getOrElseUpdate(v.toString, shared.size)
          sheet ++= s"""<c r="${colRef(c)}${r + 1}" t="s"><v>$id</v></c>"""
      }
      sheet ++= "</row>"
    }
    sheet ++= "</sheetData></worksheet>"
    val sst = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">""")
    shared.keys.foreach(s => sst ++= s"""<si><t xml:space="preserve">${esc(s)}</t></si>""")
    sst ++= "</sst>"
    val parts = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
          """</Types>"""),
      "_rels/.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          """</Relationships>"""),
      "xl/workbook.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
          """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          """<sheets><sheet name="Unemployment" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""" +
          """</Relationships>"""),
      "xl/worksheets/sheet1.xml" -> sheet.toString,
      "xl/sharedStrings.xml" -> sst.toString)
    val zip = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile)))
    try parts.foreach { case (name, body) =>
      zip.putNextEntry(new ZipEntry(name))
      zip.write(body.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    } finally zip.close()
  }

  def main(args: Array[String]): Unit = {
    val g = write(Paths.get(args(1)), args(0).toLong,
      counties = if (args.length > 2) args(2).toInt else 3000,
      lines = if (args.length > 3) args(3).toInt else 90)
    g.expected.toSeq.sorted.foreach { case (t, n) => println(s"$t\t$n") }
  }
}
