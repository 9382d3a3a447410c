package perfbench

import java.util.SplittableRandom

/** Seeded synthetic single-sample VCF with genome-like contig skew.
  *
  * Records are spread over 24 contigs in proportion to the GRCh38 lengths,
  * so chr1 holds about 8% of them and chrY about 2%. While the lines are
  * produced, the generator counts what the benchmark's operations must
  * return: the scan's filtered rows, the write-back's rows and each region
  * lookup's rows; and the text bytes of the whole file and of the part the
  * write-back keeps. The same seed gives the same bytes; the region list is
  * drawn from the seed too. */
final class VcfGen(seed: Long) {
  import VcfGen._

  /** 1-based inclusive region bounds, drawn before any record. */
  val regions: IndexedSeq[(String, Long, Long)] = {
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    val total = Contigs.map(_._2).sum
    (0 until Regions).map { _ =>
      var r = (rng.nextDouble() * total).toLong
      val (name, len) = Contigs.find { case (_, l) => val hit = r < l; if (!hit) r -= l; hit }.get
      val start = 1 + rng.nextLong(len - RegionBp)
      (name, start, start + RegionBp - 1)
    }
  }

  /** Rows the scan keeps: `qual >= 30 AND info_dp >= 20`. */
  var scanRows = 0L
  /** Rows the write-back keeps: `qual >= WriteMinQual`. */
  var writeRows = 0L
  val regionRows: Array[Long] = new Array[Long](Regions)
  /** Bytes of VCF text (lines and newlines, before compression): the whole
    * file, and the header plus the records the write-back keeps. */
  var textBytes = 0L
  var writeTextBytes = 0L

  private val byContig = regions.zipWithIndex.groupBy(_._1._1)

  def header: Iterator[String] =
    Iterator("##fileformat=VCFv4.2") ++
      Contigs.iterator.map { case (n, l) => s"##contig=<ID=$n,length=$l>" } ++
      Iterator(
        "##FILTER=<ID=LowQual,Description=\"QUAL below 20\">",
        "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
        "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele frequency\">",
        "##INFO=<ID=VARIANT_TYPE,Number=1,Type=String,Description=\"snp, h-indel or non-h-indel\">",
        "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
        "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"Allelic depths\">",
        "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
        "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Genotype quality\">",
        "##FORMAT=<ID=PL,Number=G,Type=Integer,Description=\"Phred-scaled likelihoods\">",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSAMPLE1")

  /** Header then records, contig by contig in sorted position order. */
  def lines: Iterator[String] = header.map { l =>
    textBytes += l.length + 1; writeTextBytes += l.length + 1; l
  } ++ {
    val rng = new SplittableRandom(seed)
    val total = Contigs.map(_._2).sum.toDouble
    Contigs.iterator.flatMap { case (chrom, len) =>
      val n = math.max(1, math.round(Records * len / total).toInt)
      val gap = len / (n + 1)
      val mine = byContig.getOrElse(chrom, IndexedSeq.empty)
      var pos = 0L
      Iterator.tabulate(n) { _ =>
        pos += 1 + rng.nextLong(2 * gap - 1)
        val line = record(rng, chrom, pos)
        textBytes += line.length + 1
        mine.foreach { case ((_, s, e), i) => if (pos >= s && pos <= e) regionRows(i) += 1 }
        line
      }
    }
  }

  private def record(rng: SplittableRandom, chrom: String, pos: Long): String = {
    val b = Bases(rng.nextInt(4))
    val kind = rng.nextInt(20)
    val (ref, alt, vt) =
      if (kind < 17) (b, Bases((Bases.indexOf(b) + 1 + rng.nextInt(3)) % 4), "snp")
      else if (kind < 19) (b + bases(rng, 1 + rng.nextInt(3)), b, "h-indel")
      else (b, b + bases(rng, 1 + rng.nextInt(3)), "non-h-indel")
    val q10 = rng.nextInt(1000)
    val dp = 5 + rng.nextInt(95)
    val af = rng.nextInt(1000)
    val ad1 = rng.nextInt(dp + 1)
    val gq = rng.nextInt(100)
    if (q10 >= 300 && dp >= 20) scanRows += 1
    val filter = if (q10 >= 200) "PASS" else "LowQual"
    val gt = if (ad1 * 4 > dp * 3) "1/1" else "0/1"
    val line = s"$chrom\t$pos\t.\t$ref\t$alt\t${q10 / 10}.${q10 % 10}\t$filter\t" +
      f"DP=$dp;AF=0.$af%03d;VARIANT_TYPE=$vt\tGT:AD:DP:GQ:PL\t" +
      s"$gt:${dp - ad1},$ad1:$dp:$gq:${rng.nextInt(900)},0,${rng.nextInt(900)}"
    if (q10 >= WriteMinQual * 10) { writeRows += 1; writeTextBytes += line.length + 1 }
    line
  }

  private def bases(rng: SplittableRandom, n: Int): String =
    Iterator.fill(n)(Bases(rng.nextInt(4))).mkString
}

object VcfGen {
  val Records = 100000
  val Regions = 40
  val RegionBp = 100000L
  val WriteMinQual = 80
  private val Bases = IndexedSeq("A", "C", "G", "T")

  /** GRCh38 primary contig lengths. */
  val Contigs: IndexedSeq[(String, Long)] = IndexedSeq(
    "chr1" -> 248956422L, "chr2" -> 242193529L, "chr3" -> 198295559L,
    "chr4" -> 190214555L, "chr5" -> 181538259L, "chr6" -> 170805979L,
    "chr7" -> 159345973L, "chr8" -> 145138636L, "chr9" -> 138394717L,
    "chr10" -> 133797422L, "chr11" -> 135086622L, "chr12" -> 133275309L,
    "chr13" -> 114364328L, "chr14" -> 107043718L, "chr15" -> 101991189L,
    "chr16" -> 90338345L, "chr17" -> 83257441L, "chr18" -> 80373285L,
    "chr19" -> 58617616L, "chr20" -> 64444167L, "chr21" -> 46709983L,
    "chr22" -> 50818468L, "chrX" -> 156040895L, "chrY" -> 57227415L)
}
