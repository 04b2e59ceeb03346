package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of reference-shaped catalog documents (the nested
  * `catalog` shape of the reference's seed script: 3-8 products per
  * catalog, 52 restaurant names, prices, `available` flags, ObjectId-like
  * hex ids). Only the generated rows reach the program.
  *
  * Catalog `i` depends only on (seed, i), so catalogs generated for a later
  * append wave never collide with earlier ones, and ids are unique because
  * the ObjectId counter bytes are the global product number. */
object Catalog {
  val Restaurants: Vector[String] = Vector(
    "LIMA", "AREQUIPA", "CUSCO", "TRUJILLO", "CHICLAYO", "PIURA", "IQUITOS",
    "HUANCAYO", "TACNA", "PUNO", "ICA", "CAJAMARCA", "AYACUCHO", "CHIMBOTE",
    "SANTIAGO", "VALPARAISO", "CONCEPCION", "ANTOFAGASTA", "TEMUCO",
    "RANCAGUA", "IQUIQUE", "ARICA", "TALCA", "OSORNO", "BOGOTA", "MEDELLIN",
    "CALI", "BARRANQUILLA", "CARTAGENA", "BUCARAMANGA", "PEREIRA", "MANIZALES",
    "SANTA MARTA", "IBAGUE", "CUCUTA", "VILLAVICENCIO", "MONTERIA", "PASTO",
    "MEXICO", "GUADALAJARA", "MONTERREY", "PUEBLA", "TIJUANA", "LEON",
    "MERIDA", "QUERETARO", "CANCUN", "TOLUCA", "OAXACA", "VERACRUZ",
    "CHIHUAHUA", "HERMOSILLO")
  require(Restaurants.distinct.size == 52)

  private val Countries = Vector("PE" -> "S/", "CL" -> "$", "CO" -> "$", "MX" -> "$")
  private val AreaCodes = Vector("MOP", "AUT", "CURB", "EALM")
  private val AreaTypes = Vector("PICKUP", "DELIVERY", "DRIVE_THRU", "EAT_IN")
  private val Days = Vector("MONDAY", "TUESDAY", "WEDNESDAY", "THURSDAY",
    "FRIDAY", "SATURDAY", "SUNDAY")
  private val Dishes = Vector("nuggets", "hamburguesa", "papas", "pollo",
    "ensalada", "helado", "cafe", "gaseosa", "wrap", "tostada", "huevos",
    "panqueques", "sundae", "pie", "batido", "tocino", "queso", "carne",
    "pescado", "arroz", "sandwich", "empanada", "jugo", "muffin", "galleta",
    "cono", "alitas", "salchicha", "yogurt", "te")
  private val Adjectives = Vector("crujiente", "doble", "clasico", "picante",
    "dulce", "grande", "familiar", "deluxe", "especial", "mediano", "pequeno",
    "tostado", "fresco", "caliente", "helado", "cremoso")
  private val Meals = Vector("Desayuno", "Almuerzo", "Cena", "Merienda", "Postre")
  private val Brands = Vector("McOfertas", "Combo", "Cajita", "Menu", "Box",
    "Promo", "Pack", "Duo")

  private val TimePeriod = StructType(Seq(
    StructField("startTime", StringType), StructField("endTime", StringType)))
  private val Product = StructType(Seq(
    StructField("_id", StringType), StructField("id", StringType),
    StructField("name", StringType), StructField("description", StringType),
    StructField("imageUrl", StringType),
    StructField("price", StructType(Seq(StructField("amount", DoubleType),
      StructField("formatted", StringType)))),
    StructField("available", BooleanType),
    StructField("areas", ArrayType(StringType)),
    StructField("combo", BooleanType),
    StructField("sizes", ArrayType(StructType(Seq(StructField("id", StringType),
      StructField("code", StringType))))),
    StructField("isPromoFlex", BooleanType)))
  val Schema: StructType = StructType(Seq(
    StructField("_id", StringType), StructField("id", StringType),
    StructField("title", StringType), StructField("imageUrl", StringType),
    StructField("countryId", StringType), StructField("countryCode", StringType),
    StructField("areaCode", StringType), StructField("areaType", StringType),
    StructField("restaurant", StringType), StructField("restaurantCode", StringType),
    StructField("restaurantName", StringType),
    StructField("availability", ArrayType(StructType(Seq(
      StructField("dayOfWeek", StringType),
      StructField("timePeriods", ArrayType(TimePeriod)))))),
    StructField("products", ArrayType(Product)),
    StructField("createdAt", TimestampType), StructField("updatedAt", TimestampType),
    StructField("__v", IntegerType)))

  /** ObjectId-shaped hex: 4 timestamp bytes, 5 random bytes, 3 counter bytes. */
  private def objectId(ts: Long, rnd: java.util.Random, counter: Int): String = {
    val r = rnd.nextLong() & 0xffffffffffL
    f"${ts & 0xffffffffL}%08x$r%010x${counter & 0xffffff}%06x"
  }

  private def pick[T](rnd: java.util.Random, xs: Vector[T]): T = xs(rnd.nextInt(xs.size))

  private val Epoch = 1700000000L

  /** Catalog number `i` of the stream drawn from `seed`. */
  def catalog(seed: Long, i: Int): Row = {
    val rnd = new java.util.Random(seed * 1000003L + i)
    val created = Epoch - rnd.nextInt(2 * 365 * 86400)
    val updated = created + rnd.nextInt(120 * 86400)
    val (country, currency) = pick(rnd, Countries)
    val areaCode = pick(rnd, AreaCodes)
    val areaType = pick(rnd, AreaTypes)
    val restIdx = rnd.nextInt(Restaurants.size)
    val meal = pick(rnd, Meals)
    val title = s"${pick(rnd, Brands)} ${pick(rnd, Dishes).capitalize} " +
      s"${pick(rnd, Adjectives).capitalize} ($meal)"
    val products = (0 until 3 + rnd.nextInt(6)).map { j =>
      val dish = pick(rnd, Dishes)
      val adj = pick(rnd, Adjectives)
      val amount = math.round((3.0 + rnd.nextDouble() * 57.0) * 100) / 100.0
      val desc = s"$dish $adj con ${pick(rnd, Dishes)} y ${pick(rnd, Dishes)} " +
        s"para el ${meal.toLowerCase}"
      Row(objectId(updated, rnd, i * 8 + j), f"${100000 + rnd.nextInt(900000)}%d",
        s"${dish.capitalize} ${adj.capitalize}", desc,
        s"https://img.example/p/${i}_$j.png",
        Row(amount, f"$currency$amount%.2f".replace('.', ',')),
        rnd.nextDouble() < 0.8,
        AreaTypes.filter(_ => rnd.nextBoolean()),
        rnd.nextDouble() < 0.3,
        if (rnd.nextDouble() < 0.6)
          Seq(Row(s"s$j", "M"), Row(s"l$j", "L")) else null,
        if (rnd.nextDouble() < 0.4) java.lang.Boolean.valueOf(rnd.nextBoolean()) else null)
    }
    val availability = Days.map { d =>
      Row(d, Seq(Row(f"${6 + rnd.nextInt(4)}%02d:00", f"${20 + rnd.nextInt(4)}%02d:00")))
    }
    Row(objectId(created, rnd, 0xff0000 | (i & 0xffff)),
      f"$country-$areaType-${100000 + rnd.nextInt(900000)}%d", title,
      s"https://img.example/c/$i.png", s"${country.toLowerCase}-01", country,
      areaCode, areaType, objectId(Epoch, new java.util.Random(restIdx), restIdx),
      Restaurants(restIdx).take(3), Restaurants(restIdx), availability,
      products, new Timestamp(created * 1000), new Timestamp(updated * 1000), 0)
  }

  def catalogs(seed: Long, from: Int, count: Int): Seq[Row] =
    (from until from + count).map(catalog(seed, _))

  def toDF(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Sessions.Cores), Schema)
}
