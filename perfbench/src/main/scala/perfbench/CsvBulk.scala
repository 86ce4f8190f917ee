package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.cast.Casts
import graft.config.PipelineConfig
import graft.meta.DatasetInfo
import graft.pipeline.{CsvIngestion, IngestionResult}
import graft.sink.BronzeWriter
import graft.sources.CsvSource
import graft.validate.Validate

/** `CsvIngestion.run` on a generated `;` CSV shaped like the reference's
  * municipal-indicator export: 13 columns, UTF-8 BOM, decimal commas,
  * thousands dots, quoted fields holding `;` or a newline, a mostly
  * empty last column and a small planted share of malformed numbers.
  */
final class CsvBulk(seed: Long, root: Path, work: Path) extends Workload {
  private val input = work.resolve("input").resolve("indicadores.csv")
  private val expectedNulls = CsvBulk.generate(seed, CsvBulk.Rows, input)
  private val cfg = {
    val c = PipelineConfig.fromJsonFile(root.resolve("configs/indicadores_municipios.json").toString)
    c.copy(
      csv = c.csv.map(_.copy(path = input.toString)),
      sink = c.sink.copy(baseDir = work.resolve("bronze").toString))
  }
  private val landing = new Landing("csv", CsvBulk.Rows, expectedNulls, Map.empty)
  private var last: IngestionResult = _

  def confs: Map[String, String] = Map.empty
  val inputBytes: Long = Files.size(input)
  def rowsPerOp: Long = CsvBulk.Rows
  def outputBytes: Long = landing.bytes

  def op(spark: SparkSession, tr: Tracer): Double = {
    val t0 = System.nanoTime()
    last = tr.span("op")(CsvIngestion.run(spark, cfg, Landing.RunId, Landing.Clock))
    (System.nanoTime() - t0) / 1e9
  }

  def check(): Seq[String] = landing.check(last.dataFile, last.rows)

  override def replay(spark: SparkSession, tr: Tracer): Unit = {
    val s = cfg.schema
    val raw = tr.span("sources.CsvSource.read")(CsvSource.read(spark, cfg.csv.get))
    val renamed = tr.span("cast.Casts.renameColumns")(Casts.renameColumns(raw, s.renameMap))
    tr.span("validate.Validate.ensureRequiredColumns")(
      Validate.ensureRequiredColumns(renamed, s.requiredColumns))
    tr.span("validate.Validate.undeclaredColumns")(Validate.undeclaredColumns(renamed, s.declared))
    val cast = tr.span("cast.Casts.applyCasts")(
      Casts.applyCasts(renamed, s.integerFields, s.stringFields, s.floatFields))
    tr.span("validate.Validate.checkDtypes")(
      Validate.checkDtypes(cast, s.integerFields, s.stringFields, s.floatFields))
    val partValue = Casts.todayYyyymmdd(Landing.Clock)
    val dataFile = tr.span("sink.BronzeWriter.write")(BronzeWriter.write(spark, cast, cfg.sink, partValue))
    val info = DatasetInfo(cfg.datasetId, cfg.origin, cfg.csv.get.sep, cfg.csv.get.encoding,
      cfg.sink.partitionKey, partValue, Landing.RunId, "graft")
    Landing.replayManifest(spark, tr, cast, dataFile, info, Map.empty)
  }

  override def counters(): Map[String, Double] =
    Map("bronze.bytes" -> landing.totalDataBytes.toDouble)
}

object CsvBulk {
  /** Sized so one operation takes about two seconds on 4 cores: enough
    * bytes that parsing, writing and stats take about half of it, and
    * still several operations per run for a median.
    */
  val Rows = 20000

  private val Header = Seq("Ano", "Código Município", "Município", "UF", "IBC",
    "Cobertura Pop. 4G5G", "Densidade SMP", "HHI SMP", "Densidade SCM", "HHI SCM",
    "Adensamento Estações", "Fibra", "Cobertura área agricultável")
  /** The same columns after the config's rename map. */
  private val Columns = Seq("ano", "codigo_municipio", "municipio", "uf", "ibc",
    "cobertura_pop_4g5g", "densidade_smp", "hhi_smp", "densidade_scm", "hhi_scm",
    "adensamento_estacoes", "fibra", "cobertura_area_agricultavel")
  private val Ufs = Seq("AC", "AL", "AM", "AP", "BA", "CE", "DF", "ES", "GO", "MA", "MG", "MS",
    "MT", "PA", "PB", "PE", "PI", "PR", "RJ", "RN", "RO", "RR", "RS", "SC", "SE", "SP", "TO")
  private val Syllables = Seq("ba", "ca", "da", "fe", "gu", "ja", "lu", "ma", "no", "pa", "ri",
    "sa", "ta", "vi", "xa", "zu", "ra", "mo", "be", "co")
  /** Values the lenient casts turn into NULL. */
  private val BadInts = Seq("12.7", "abc", "2024,5")
  private val BadFloats = Seq("abc", "n/d", "1,2,3")

  /** Write the CSV and return the manifest's expected `nulos`: empty
    * fields plus the planted values that no cast can parse.
    */
  def generate(seed: Long, rows: Int, out: Path): Map[String, Long] = {
    val r = new java.util.Random(seed)
    val nulls = Array.fill(Columns.size)(0L)
    def q(s: String) = if (s.exists(c => c == ';' || c == '\n' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s
    def word() = (1 to 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString.capitalize
    def decimal(maxInt: Int, frac: Int): String = {
      val whole = r.nextInt(maxInt)
      val ip =
        if (whole >= 1000) f"${whole / 1000}%d.${whole % 1000}%03d" else whole.toString
      if (frac == 0) ip else s"$ip,${(1 to frac).map(_ => r.nextInt(10)).mkString}"
    }
    // column index -> value; a malformed or empty value counts toward that column's nulls
    def float(i: Int, maxInt: Int, frac: Int, emptyShare: Double): String = {
      val u = r.nextDouble()
      if (u < emptyShare) { nulls(i) += 1; "" }
      else if (u < emptyShare + 0.002) { nulls(i) += 1; BadFloats(r.nextInt(BadFloats.size)) }
      else decimal(maxInt, frac)
    }
    Files.createDirectories(out.getParent)
    val w = Files.newBufferedWriter(out, UTF_8)
    try {
      w.write("\uFEFF") // BOM
      w.write(Header.mkString(";"))
      w.write("\n")
      var i = 0
      while (i < rows) {
        val ano =
          if (r.nextDouble() < 0.002) { nulls(0) += 1; BadInts(r.nextInt(BadInts.size)) }
          else (2018 + r.nextInt(7)).toString
        val uf = Ufs(r.nextInt(Ufs.size))
        val u = r.nextDouble()
        val municipio =
          if (u < 0.005) s"${word()}\n${word()} - $uf"
          else if (u < 0.035) s"${word()}; ${word()} - $uf"
          else if (u < 0.1) s"${word()} D'${word()} - $uf"
          else s"${word()} ${word()} - $uf"
        val fields = Seq(
          ano,
          (1100015 + i).toString,
          q(municipio),
          uf,
          float(4, 100, 2, 0.001),
          float(5, 100, 4, 0.001),
          float(6, 3000, 2, 0.001),
          float(7, 10000, 0, 0.001),
          float(8, 100, 2, 0.001),
          float(9, 10000, 0, 0.001),
          float(10, 100, 2, 0.001),
          float(11, 2, 0, 0.001),
          float(12, 100, 4, 0.75))
        w.write(fields.mkString(";"))
        w.write("\n")
        i += 1
      }
    } finally w.close()
    Columns.zip(nulls).toMap
  }
}
