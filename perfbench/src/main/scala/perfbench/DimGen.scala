package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded retail dimensions shaped like the reference's seed CSVs
  * (FIXTURES.md A.1-A.3). The row counts and the skews the DAG depends
  * on are fixed; the seed decides which values land where.
  *
  *  - customer: 19,383 rows, zero-padded ids, 178 NULL residences,
  *    856 customers living in a duplicated short zipcode;
  *  - products_info: 4,386 unique composite keys, affiliate skew
  *    A 630 / B 2,624 / C 987 / D 145;
  *  - zipcode: 473 rows over 452 short zipcodes, 21 of them twice, so
  *    customer ⋈ zipcode fans out (19,383 → 20,239 rows).
  */
object DimGen {
  val Customers = 19383
  val FemaleCustomers = 15898
  val NullResidences = 178
  val DupResidents = 856
  val Affiliates: Seq[(String, Int)] =
    Seq("A" -> 630, "B" -> 2624, "C" -> 987, "D" -> 145)
  val ZipRows = 473
  val DupZips = 21

  private val ageGroups = Seq("19세이하", "20세~24세", "25세~29세",
    "30세~34세", "35세~39세", "40세~44세", "45세~49세", "50세~54세",
    "55세~59세", "60세이상")
  // relative weights: 45-49 is the mode, as in the reference
  private val ageWeights = Seq(3, 6, 9, 11, 13, 15, 21, 12, 6, 4)
  private val provinces = Seq(
    "서울특별시" -> "Seoul", "부산광역시" -> "Busan",
    "대구광역시" -> "Daegu", "인천광역시" -> "Incheon",
    "광주광역시" -> "Gwangju", "대전광역시" -> "Daejeon",
    "울산광역시" -> "Ulsan", "세종특별자치시" -> "Sejong-si",
    "경기도" -> "Gyeonggi-do", "강원도" -> "Gangwon-do",
    "충청북도" -> "Chungcheongbuk-do", "충청남도" -> "Chungcheongnam-do",
    "전라북도" -> "Jeollabuk-do", "전라남도" -> "Jeollanam-do",
    "경상북도" -> "Gyeongsangbuk-do", "경상남도" -> "Gyeongsangnam-do",
    "제주특별자치도" -> "Jeju-do")
  private val mainDescs = Seq("일용잡화", "가공식품", "신선식품", "생활용품",
    "주방용품", "의류", "가전", "화장품", "건강식품", "문구", "스포츠", "완구")
  private val subDescs = Seq("위생세제", "과자", "음료", "냉동식품", "채소",
    "과일", "정육", "수산", "세탁용품", "욕실용품", "조리도구", "식기",
    "상의", "하의", "소형가전", "기초화장품", "색조화장품", "비타민",
    "필기구", "구기용품", "인형", "블록")

  /** Writes customer.csv, products_info.csv and zipcode.csv to `dir`. */
  def write(dir: Path, seed: Long): Unit = {
    val rnd = new Random(seed)
    Files.createDirectories(dir)
    val shortZips = zipcodes(dir, rnd)
    customers(dir, rnd, shortZips)
    products(dir, rnd)
  }

  private def csv(path: Path, header: String, rows: Seq[Seq[String]])
      : Unit = {
    val sb = new StringBuilder(header).append('\n')
    rows.foreach(r => sb.append(r.mkString(",")).append('\n'))
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Returns (unique short zipcodes, duplicated short zipcodes). */
  private def zipcodes(dir: Path, rnd: Random): (Seq[String], Seq[String]) = {
    val distinct = rnd.shuffle((0 until 1000).map(i => f"$i%03d"))
      .take(ZipRows - DupZips).sorted
    val dups = rnd.shuffle(distinct).take(DupZips).toSet
    val rows = (distinct ++ distinct.filter(dups)).zipWithIndex.map {
      case (short, i) =>
        val (prov, provEng) = provinces(rnd.nextInt(provinces.size))
        val city = if (rnd.nextInt(20) == 0) "" else s"시군구$i"
        val cityEng = if (city.isEmpty) "" else s"City-$i"
        val eup = if (rnd.nextInt(3) == 0) s"읍면$i" else ""
        val eupEng = if (eup.isEmpty) "" else s"Eup-$i"
        val road = if (rnd.nextInt(10) == 0) "" else s"도로$i"
        val roadEng = if (road.isEmpty) "" else s"Road-$i"
        Seq(f"$short%s${rnd.nextInt(100)}%02d", prov, provEng, city,
          cityEng, eup, eupEng, road, roadEng, short)
    }
    csv(dir.resolve("zipcode.csv"),
      "zipcode,province_city,province_city_eng,city_county," +
        "city_county_eng,eup_myeon,eup_myeon_eng,road_nm,road_nm_eng," +
        "short_zipcode", rows)
    (distinct.filterNot(dups), distinct.filter(dups))
  }

  private def customers(dir: Path, rnd: Random,
      zips: (Seq[String], Seq[String])): Unit = {
    val (unique, dup) = zips
    // exact residence mix: 178 NULL, 856 in duplicated codes, the rest
    // in unique codes; the seed shuffles who lives where
    val residences = rnd.shuffle(
      Seq.fill(NullResidences)("") ++
        Seq.tabulate(DupResidents)(i => dup(i % dup.size)) ++
        Seq.fill(Customers - NullResidences - DupResidents)(
          unique(rnd.nextInt(unique.size))))
    val sexes = rnd.shuffle(
      Seq.fill(FemaleCustomers)("F") ++ Seq.fill(Customers - FemaleCustomers)("M"))
    val cumAge = ageWeights.scanLeft(0)(_ + _).tail
    val rows = (1 to Customers).map { id =>
      val a = rnd.nextInt(cumAge.last)
      Seq(f"$id%05d", sexes(id - 1), ageGroups(cumAge.indexWhere(a < _)),
        residences(id - 1))
    }
    csv(dir.resolve("customer.csv"),
      "customer_id,sex,age_group,residence", rows)
  }

  private def products(dir: Path, rnd: Random): Unit = {
    val rows = Affiliates.flatMap { case (aff, n) =>
      // divisions × main categories × sub categories, cut to n keys
      val keys = for {
        d <- 1 to 30; m <- 1 to 12; s <- 1 to 40
      } yield (d, m, s)
      val picked = rnd.shuffle(keys).take(n).sorted
      picked.map { case (d, m, s) =>
        Seq(aff, f"$d%02d", f"$d%02d$m%02d", f"$aff$d%02d$m%02d$s%02d",
          mainDescs((d + m) % mainDescs.size),
          subDescs(rnd.nextInt(subDescs.size)))
      }
    }
    csv(dir.resolve("products_info.csv"),
      "affiliate,division_cd,main_category_cd,sub_category_cd," +
        "main_category_desc,sub_category_desc", rows)
  }
}
