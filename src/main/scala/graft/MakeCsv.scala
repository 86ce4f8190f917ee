package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded `;`-CSV in the shape of the reference's municipal-indicator
  * export (`configs/indicadores_municipios.json` reads it): UTF-8 BOM,
  * 13 columns, decimal commas and thousands dots, about 3% of names
  * quoted around a `;`, 0.5% quoted around a newline, a mostly empty
  * last column and a few values no cast parses. `graft.Dev ingest`
  * lands it at several sizes; the same seed and row count give the
  * same bytes.
  */
object MakeCsv {

  val Header: Seq[String] = Seq("Ano", "Código Município", "Município", "UF", "IBC",
    "Cobertura Pop. 4G5G", "Densidade SMP", "HHI SMP", "Densidade SCM", "HHI SCM",
    "Adensamento Estações", "Fibra", "Cobertura área agricultável")
  private val Ufs = Seq("AC", "AL", "AM", "AP", "BA", "CE", "DF", "ES", "GO", "MA", "MG", "MS",
    "MT", "PA", "PB", "PE", "PI", "PR", "RJ", "RN", "RO", "RR", "RS", "SC", "SE", "SP", "TO")
  private val Syllables = Seq("ba", "ca", "da", "fe", "gu", "ja", "lu", "ma", "no", "pa", "ri",
    "sa", "ta", "vi", "xa", "zu", "ra", "mo", "be", "co", "ão", "çu")

  /** Write `rows` data rows after the header to `out`. */
  def generate(seed: Long, rows: Int, out: Path): Unit = {
    val r = new java.util.Random(seed)
    def word() = (1 to 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString.capitalize
    def decimal(maxInt: Int, frac: Int): String = {
      val whole = r.nextInt(maxInt)
      val ip = if (whole >= 1000) s"${whole / 1000}." + (1000 + whole % 1000).toString.substring(1) else whole.toString
      if (frac == 0) ip else ip + "," + (1 to frac).map(_ => r.nextInt(10)).mkString
    }
    def float(maxInt: Int, frac: Int, emptyShare: Double): String = {
      val u = r.nextDouble()
      if (u < emptyShare) "" else if (u < emptyShare + 0.002) "n/d" else decimal(maxInt, frac)
    }
    Files.createDirectories(out.toAbsolutePath.getParent)
    val w = Files.newBufferedWriter(out, UTF_8)
    try {
      w.write("\uFEFF")
      w.write(Header.mkString(";"))
      w.write("\n")
      for (i <- 0 until rows) {
        val uf = Ufs(r.nextInt(Ufs.size))
        val u = r.nextDouble()
        val municipio =
          if (u < 0.005) s"\"${word()}\n${word()} - $uf\""
          else if (u < 0.035) s"\"${word()}; ${word()} - $uf\""
          else s"${word()} ${word()} - $uf"
        val fields = Seq(
          if (r.nextDouble() < 0.002) "12.7" else (2018 + r.nextInt(7)).toString,
          (1100015 + i).toString,
          municipio,
          uf,
          float(100, 2, 0.001),
          float(100, 4, 0.001),
          float(3000, 2, 0.001),
          float(10000, 0, 0.001),
          float(100, 2, 0.001),
          float(10000, 0, 0.001),
          float(100, 2, 0.001),
          float(2, 0, 0.001),
          float(100, 4, 0.75))
        w.write(fields.mkString(";"))
        w.write("\n")
      }
    } finally w.close()
  }
}
