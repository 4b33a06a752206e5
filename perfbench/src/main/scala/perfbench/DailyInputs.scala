package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.ingest.SyntheticSuumo

/** One day of Suumo-shaped search pages, built from a seed with the
  * public `SyntheticSuumo.room`/`building`/`pageHtml` builders.
  *
  * `SyntheticSuumo.page` is not used: its `jnc_id % 9000` collapses a
  * large day to ~7k rooms after dedup. Here each room draws a fresh id,
  * except a stated share that repeats an earlier one (relisted rooms,
  * which the clean stage's keep-first dedup removes).
  *
  * Page shape: 50 buildings of 4 rooms, the ~198 rows per page the
  * reference's own page fixture scrapes to (BASELINE.md); a day is scaled
  * by its page count.
  *
  * Besides the HTML, generation records what the scraper must emit for
  * every room, from the generator's own arithmetic and the
  * reference's documented parse formulas — never from the parser — so the
  * scraped output can be checked against an independent derivation.
  */
object DailyInputs {

  val BuildingsPerPage = 50
  val RoomsPerBuilding = 4
  /** Share of rooms that repeat an earlier room's jnc_id. */
  val DuplicateShare = 0.03

  // the wards and districts SyntheticSuumo.writeLocationCsv covers, with
  // chome 1..12 in every (ward, district) pair
  private val Wards = Vector("渋谷区", "台東区", "新宿区", "世田谷区", "目黒区")
  private val Districts = Vector("恵比寿南", "元浅草", "神泉町", "三軒茶屋", "中目黒")
  private val WardRent = Vector(40, 0, 30, 10, 20) // tenths of 万円
  private val Layouts = Vector("1K", "2DK", "3LDK", "ワンルーム", "4SLDK")
  // layout → n_rooms, as the reference's parse_layout counts them
  private val LayoutRooms = Vector(1, 2, 3, 1, 4)

  /** What one room must scrape to (the checked columns). */
  final case class Expected(jnc: String, rent: Long, adminFee: Long,
      deposit: Long, gratuity: Long, layout: String, area: Double,
      minFloor: Long, maxFloor: Long, age: Long, floors: Long,
      ward: String, district: String, walkMin: Double, walkAvg: Double) {
    def key: String = Seq(jnc, rent, adminFee, deposit, gratuity, layout,
      area, minFloor, maxFloor, age, floors, ward, district, walkMin,
      walkAvg).mkString("|")
  }

  final case class Day(dir: Path, locationCsv: Path, pages: Int,
      roomsGenerated: Int, expected: Vector[Expected])

  /** Writes `pages` pages and the location reference under `dir`. */
  def generate(seed: Long, pages: Int, dir: Path): Day = {
    val rnd = new SplittableRandom(seed)
    val htmlDir = dir.resolve("pages")
    Files.createDirectories(htmlDir)
    val locationCsv = SyntheticSuumo.writeLocationCsv(dir.resolve("location"))
    val expected = Vector.newBuilder[Expected]
    val ids = new Array[Long](pages * BuildingsPerPage * RoomsPerBuilding)
    var rooms = 0
    val idBase = (seed & 0xffffL) * 100000000L
    for (p <- 0 until pages) {
      val buildings = (0 until BuildingsPerPage).map { b =>
        val wi = rnd.nextInt(Wards.size)
        val address = s"東京都${Wards(wi)}${Districts(wi)}${1 + rnd.nextInt(12)}"
        val age = rnd.nextInt(41) // 0 → 新築
        val floors = 2 + rnd.nextInt(14)
        val walkA = 1 + rnd.nextInt(20)
        val walkB = 1 + rnd.nextInt(20)
        val roomHtml = (0 until RoomsPerBuilding).map { _ =>
          val jnc = if (rooms > 0 && rnd.nextDouble() < DuplicateShare)
            ids(rnd.nextInt(rooms)) else idBase + rooms
          ids(rooms) = jnc
          rooms += 1
          val li = rnd.nextInt(Layouts.size)
          val areaTenths = 150 + LayoutRooms(li) * 80 + rnd.nextInt(250)
          val floor = 1 + rnd.nextInt(floors)
          val basement = rnd.nextInt(40) == 0
          val rentTenths = math.max(25, 20 + areaTenths / 5 + WardRent(wi) -
            age / 2 - math.min(walkA, walkB) + floor + rnd.nextInt(30))
          val admin = if (rnd.nextInt(5) == 0) 0 else 1000 + 500 * rnd.nextInt(9)
          val depositMan = if (rnd.nextInt(3) == 0) 0 else 1 + rnd.nextInt(20)
          val gratuityMan = if (rnd.nextInt(3) == 0) 0 else 1 + rnd.nextInt(20)
          val rentText = s"${rentTenths / 10}.${rentTenths % 10}"
          val jncText = f"$jnc%012d"
          val (minF, maxF) = if (basement) (0L, 1L) else (floor.toLong, floor.toLong)
          expected += Expected(
            jnc = jncText,
            // the reference's money formula: int(float(s) * mult)
            rent = (rentText.toDouble * 10000).toLong,
            adminFee = admin.toLong,
            deposit = depositMan * 10000L,
            gratuity = gratuityMan * 10000L,
            layout = Layouts(li),
            area = s"${areaTenths / 10}.${areaTenths % 10}".toDouble,
            minFloor = minF, maxFloor = maxF,
            age = age.toLong, floors = floors.toLong,
            ward = Wards(wi), district = Districts(wi),
            walkMin = math.min(walkA, walkB).toDouble,
            walkAvg = (walkA + walkB) / 2.0)
          SyntheticSuumo.room(
            rent = s"${rentText}万円",
            admin = if (admin == 0) "-" else s"${admin}円",
            deposit = if (depositMan == 0) "-" else s"${depositMan}万円",
            gratuity = if (gratuityMan == 0) "-" else s"${gratuityMan}万円",
            layout = Layouts(li),
            area = s"${areaTenths / 10}.${areaTenths % 10}m2",
            floor = if (basement) "B1-1階" else s"${floor}階",
            jnc = jncText,
            newArrival = rnd.nextInt(5) == 0)
        }
        SyntheticSuumo.building(
          category = if (rnd.nextBoolean()) "賃貸マンション" else "アパート",
          title = s"パーフ荘${p}_$b",
          address = address,
          transport = Seq(s"ＪＲ山手線/駅${rnd.nextInt(9)} 歩${walkA}分",
            s"東京メトロ/駅${rnd.nextInt(7)} 歩${walkB}分"),
          age = if (age == 0) "新築" else s"築${age}年",
          floors = s"${floors}階建",
          rooms = roomHtml)
      }
      Files.writeString(htmlDir.resolve(f"page_$p%06d.html"),
        SyntheticSuumo.pageHtml(buildings, bannerMs = Some(1609140469000L + p)))
    }
    Day(htmlDir, locationCsv, pages, rooms, expected.result())
  }
}
