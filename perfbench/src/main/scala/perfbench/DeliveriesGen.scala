package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** What one ETL run over a generated input must report, computed by a
  * plain row loop (no Spark): the five quality counters of `RunMetrics`
  * and the per-date row counts of the partitioned sink.
  */
final case class EtlExpected(
    inputRows: Long,
    removedNullMaterial: Long,
    removedInvalidType: Long,
    removedDuplicates: Long,
    removedInvalidCountry: Long,
    partitions: Map[String, Long]) {
  def finalRows: Long = partitions.values.sum
}

/** Seeded synthetic deliveries CSV in the reference's shape: its nine
  * string columns and the value mix published for its 379-row file
  * (country, delivery-type and unit shares; about 5% empty `material`;
  * about 12% `COBR`; about half the rows exact duplicates; zero prices
  * written as `0E-18`). One country outside the valid list (`CR`, 1%)
  * keeps the country-validation counter from being trivially 0.
  *
  * Dates are the 365 days of 2025, so the default 2025-01-01..2025-06-30
  * window keeps about half the rows and the sink writes 181
  * `fecha_proceso=` partitions. The input is written as `InputFiles` part
  * files of one directory, so that Extract reads it in that many splits.
  */
object DeliveriesGen {

  val header = "pais,fecha_proceso,transporte,ruta,tipo_entrega,material,precio,cantidad,unidad"

  // Business rules the oracle applies, as set in config/config.yaml and
  // the filter window the benchmark passes as overrides.
  val validTypes: Set[String] = Set("ZPRE", "ZVE1", "Z04", "Z05")
  val validCountries: Set[String] = Set("GT", "SV", "HN", "EC", "PE", "JM")
  val startDate = "20250101"
  val endDate = "20250630"

  /** Part files per input directory: at least one split per core on a
    * host of up to this many cores.
    */
  val InputFiles = 8

  // Reference counts (FIXTURES.md §A1) as sampling weights.
  private val countries = Weighted(Seq(
    "GT" -> 12, "SV" -> 162, "HN" -> 119, "EC" -> 48, "PE" -> 2, "JM" -> 36, "CR" -> 4))
  private val types = Weighted(Seq(
    "ZPRE" -> 183, "ZVE1" -> 36, "Z04" -> 75, "Z05" -> 39, "COBR" -> 46))
  private val units = Weighted(Seq("CS" -> 271, "ST" -> 108))
  private val emptyMaterialShare = 18.0 / 379
  private val duplicateShare = 0.5

  private final case class Weighted(items: Seq[(String, Int)]) {
    private val total = items.map(_._2).sum
    def pick(r: java.util.SplittableRandom): String = {
      var x = r.nextInt(total)
      items.find { case (_, w) => x -= w; x < 0 }.get._1
    }
  }

  private val dates: IndexedSeq[String] = {
    val d0 = java.time.LocalDate.of(2025, 1, 1)
    (0 until 365).map(i => d0.plusDays(i).toString.replace("-", ""))
  }

  /** Price with 18 fraction digits, as the reference's decimal export
    * writes it; zero renders as `0E-18`.
    */
  private def price(cents: Int): String =
    java.math.BigDecimal.valueOf(cents.toLong, 2).setScale(18).toString

  /** The data rows (no header) of one input. Deterministic in `seed`. */
  def rows(seed: Long, n: Int): Array[String] = {
    val r = new java.util.SplittableRandom(seed)
    val out = new Array[String](n)
    // copies are drawn from the fresh rows only: copying copies would
    // compound, and the value shares would then drift with the seed
    val fresh = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < n) {
      out(i) =
        if (fresh.nonEmpty && r.nextDouble() < duplicateShare) fresh(r.nextInt(fresh.size))
        else {
          val pais = countries.pick(r)
          val tipo = types.pick(r)
          val material =
            if (r.nextDouble() < emptyMaterialShare) ""
            else f"${('A' + r.nextInt(4)).toChar}A${r.nextInt(1000)}%03d${r.nextInt(10)}%03d"
          val free = (tipo == "Z04" || tipo == "Z05") && r.nextDouble() < 0.6
          val cents = if (free) 0 else 50 + r.nextInt(20000)
          val cantidad = java.math.BigDecimal.valueOf(1L + r.nextInt(60)).setScale(18).toString
          val row = Seq(pais, dates(r.nextInt(dates.size)), (1000000 + r.nextInt(900000)).toString,
            (100000 + r.nextInt(900000)).toString, tipo, material, price(cents), cantidad,
            units.pick(r)).mkString(",")
          fresh += row
          row
        }
      i += 1
    }
    out
  }

  /** One CSV file's bytes: header plus rows, `\n`-terminated. */
  def csv(rows: Array[String]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(rows.length * 80)
    sb.append(header).append('\n')
    rows.foreach(r => sb.append(r).append('\n'))
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** The rows as `InputFiles` CSV files of nearly equal size, in order. */
  def parts(rows: Array[String]): Seq[Array[Byte]] = {
    val per = (rows.length + InputFiles - 1) / InputFiles
    (0 until InputFiles).map(i => csv(rows.slice(i * per, (i + 1) * per)))
  }

  /** Writes the input directory `dir` (created if missing). */
  def write(dir: Path, rows: Array[String]): Unit = {
    Files.createDirectories(dir)
    parts(rows).zipWithIndex.foreach { case (bytes, i) =>
      Files.write(dir.resolve(f"part-$i%05d.csv"), bytes)
    }
  }

  /** The ETL's result by a sequential row loop, in the reference's
    * order: empty material, then delivery type, then exact duplicates,
    * then country; the date window applies last, to the output.
    */
  def expected(rows: Array[String]): EtlExpected = {
    var nullMaterial, badType, afterType = 0L
    val distinct = mutable.HashSet.empty[String]
    rows.foreach { line =>
      val f = line.split(",", -1)
      if (f(5).trim.isEmpty) nullMaterial += 1
      else if (!validTypes(f(4))) badType += 1
      else { afterType += 1; distinct += line }
    }
    val kept = distinct.toSeq.map(_.split(",", -1)).filter(f => validCountries(f(0).toUpperCase))
    val partitions = kept.map(_(1)).filter(d => d >= startDate && d <= endDate)
      .groupBy(identity).map { case (d, ds) => d -> ds.size.toLong }
    EtlExpected(rows.length.toLong, nullMaterial, badType, afterType - distinct.size,
      distinct.size - kept.size, partitions)
  }
}
