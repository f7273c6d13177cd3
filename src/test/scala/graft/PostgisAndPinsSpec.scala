package graft

import graft.geom.{GeomOps, Wkb}
import graft.io.PostgisIO
import graft.join.{Pins, SpatialJoin}
import org.apache.spark.sql.functions._

/** hex-EWKB codec (PostGIS interchange) and the pin-gating logic that keeps
  * 100 TB scan-rooted joins from being materialized to local disk. */
class PostgisAndPinsSpec extends SparkSuite {
  import spark.implicits._

  // POINT(1 2) with SRID=4326, little-endian — canonical PostGIS literal
  private val ewkbPoint4326 = "0101000020E6100000000000000000F03F0000000000000040"

  test("hex-EWKB decode: geometry + SRID from a canonical PostGIS literal") {
    val df = Seq(ewkbPoint4326).toDF("geom")
    val row = df.select(
      PostgisIO.decode_hex_ewkb(col("geom")).as("g"),
      PostgisIO.ewkb_srid(col("geom")).as("srid")).head()
    val g = Wkb.read(row.getAs[Array[Byte]](0))
    assert(g.getGeometryType == "Point")
    assert((g.getCoordinate.x, g.getCoordinate.y) == ((1.0, 2.0)))
    assert(row.getInt(1) == 4326)
  }

  test("hex-EWKB encode round-trips the canonical literal") {
    val wkb = Wkb.write(GeomOps.point(1, 2))
    val hex = Seq(wkb).toDF("g")
      .select(PostgisIO.encode_hex_ewkb(col("g"), lit(4326))).as[String].head()
    assert(hex.equalsIgnoreCase(ewkbPoint4326))
    // decode of our own encode is identity
    val back = Seq(hex).toDF("h").select(PostgisIO.decode_hex_ewkb(col("h"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(back, wkb))
  }

  test("hex-EWKB handles polygons and Z geometries") {
    val poly = GeomOps.makeBox(0, 0, 2, 3)
    val hex = Seq(Wkb.write(poly)).toDF("g")
      .select(PostgisIO.encode_hex_ewkb(col("g"), lit(3857))).as[String].head()
    val row = Seq(hex).toDF("h").select(
      PostgisIO.decode_hex_ewkb(col("h")).as("g"), PostgisIO.ewkb_srid(col("h")).as("s")).head()
    assert(Wkb.read(row.getAs[Array[Byte]](0)).equalsTopo(poly))
    assert(row.getInt(1) == 3857)

    val pz = GeomOps.pointZ(1, 2, 9)
    val hexZ = Seq(Wkb.write(pz)).toDF("g")
      .select(PostgisIO.encode_hex_ewkb(col("g"), lit(0))).as[String].head()
    val gz = Wkb.read(Seq(hexZ).toDF("h")
      .select(PostgisIO.decode_hex_ewkb(col("h"))).head().getAs[Array[Byte]](0))
    assert(gz.getCoordinate.getZ == 9.0)
  }

  test("JDBC round-trip through an embedded database (write → read_postgis)") {
    // No live PostGIS ships in this container; Derby (embedded, in Spark's
    // jars for the Hive metastore) exercises the SAME Spark JDBC plumbing —
    // URL/properties handling, dialect type mapping, batching, and the
    // hex-EWKB geometry codec applied on both sides of the wire.
    val url = "jdbc:derby:memory:graftdb;create=true"
    val pts = Seq(
      (1, "alpha", Wkb.write(GeomOps.point(1, 2))),
      (2, "beta", Wkb.write(GeomOps.makeBox(0, 0, 2, 3))),
      (3, "nil", null.asInstanceOf[Array[Byte]])).toDF("id", "name", "geometry")
    val gdf = graft.api.GeoDataFrame(pts, "geometry", Map("geometry" -> "EPSG:4326"))
    PostgisIO.toPostgis(gdf, url, "pts_rt", srid = 4326, mode = "overwrite")

    val back = PostgisIO.readPostgis(spark, url,
      """SELECT "id", "name", "geometry" AS "geom" FROM pts_rt""",
      geomCol = "geom", crs = Some("EPSG:4326"))
    assert(back.activeCrs.contains("EPSG:4326"))
    val rows = back.df.select("id", "name", "geometry").collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.getAs[Array[Byte]](2)).map(Wkb.read))).sortBy(_._1)
    assert(rows.length == 3)
    assert(rows(0)._3.get.equalsExact(GeomOps.point(1, 2)))
    assert(rows(1)._3.get.equalsTopo(GeomOps.makeBox(0, 0, 2, 3)))
    assert(rows(2)._3.isEmpty)
    // SRID survived the wire in the EWKB type word
    val srid = spark.read.jdbc(url, "pts_rt", new java.util.Properties())
      .filter(col("id") === 1)
      .select(PostgisIO.ewkb_srid(col("geometry").cast("string"))).head().getInt(0)
    assert(srid == 4326)
  }

  test("EWKB SRID word matches the PostGIS wire format (flag 0x20000000 + LE srid)") {
    // ref io/sql.py:300-315 — to_postgis writes hex-EWKB with include_srid;
    // the type word must carry the 0x20000000 flag and the 4 LE srid bytes
    def hexFor(srid: Int): String = Seq(Wkb.write(GeomOps.point(1, 2))).toDF("g")
      .select(PostgisIO.encode_hex_ewkb(col("g"), lit(srid))).as[String].head()
    // byte order 01 (NDR), type word 0x20000001 LE, then the srid word LE
    assert(hexFor(4326).startsWith("0101000020E6100000")) // 4326 = 0x10E6
    assert(hexFor(3857).startsWith("0101000020110F0000")) // 3857 = 0x0F11
    assert(hexFor(27700).startsWith("0101000020346C0000")) // 27700 = 0x6C34
    // and the srid reader inverts the word exactly
    for (s <- Seq(4326, 3857, 27700)) {
      val got = Seq(hexFor(s)).toDF("h").select(PostgisIO.ewkb_srid(col("h"))).head().getInt(0)
      assert(got == s)
    }
  }

  test("PostGIS CREATE TABLE DDL: geometry typmod + SQLAlchemy-style scalar types") {
    val df = Seq((1L, "a", 1.5, true, Wkb.write(GeomOps.point(1, 2))))
      .toDF("id", "name", "score", "flag", "geometry")
    val gdf = graft.api.GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:4326"))
    val ddl = PostgisIO.createTableDdl(gdf, "cities", srid = 4326, geometryType = "Point")
    assert(ddl == """CREATE TABLE cities ("id" bigint, "name" text, "score" double precision, "flag" boolean, "geometry" geometry(Point,4326))""")
    // default subtype is the untyped geometry typmod
    assert(PostgisIO.createTableDdl(gdf, "t2", srid = 27700)
      .endsWith(""""geometry" geometry(Geometry,27700))"""))
  }

  test("create-then-append write path round-trips through a pre-created table (Derby dialect)") {
    // the SAME toPostgisWithDdl code path a live PostGIS takes, with the
    // dialect swapped to Derby's spellings since no server ships here
    val url = "jdbc:derby:memory:graftddl;create=true"
    val pts = Seq(
      (1, "alpha", Wkb.write(GeomOps.point(3, 4))),
      (2, "beta", null.asInstanceOf[Array[Byte]])).toDF("id", "name", "geometry")
    val gdf = graft.api.GeoDataFrame(pts, "geometry", Map("geometry" -> "EPSG:27700"))
    PostgisIO.toPostgisWithDdl(gdf, url, "pre_rt", srid = 27700,
      geometryType = "Point", dialect = PostgisIO.DerbyDdl)
    val back = PostgisIO.readPostgis(spark, url,
      """SELECT "id", "name", "geometry" AS "geom" FROM pre_rt""",
      geomCol = "geom", crs = Some("EPSG:27700"))
    val rows = back.df.select("id", "name", "geometry").collect()
      .map(r => (r.getInt(0), Option(r.getAs[Array[Byte]](2)).map(Wkb.read))).sortBy(_._1)
    assert(rows.length == 2)
    assert(rows(0)._2.get.equalsExact(GeomOps.point(3, 4)))
    assert(rows(1)._2.isEmpty)
    // the pre-created table carried the EWKB srid over the wire
    val srid = spark.read.jdbc(url, "pre_rt", new java.util.Properties())
      .filter(col("id") === 1)
      .select(PostgisIO.ewkb_srid(col("geometry").cast("string"))).head().getInt(0)
    assert(srid == 27700)
  }

  test("PostgreSQL URLs default stringtype=unspecified so EWKB strings cast to geometry") {
    // pgJDBC binds String params as varchar and PG has no implicit
    // varchar→geometry cast — appending into a geometry(…) column needs the
    // parameter sent untyped (stringtype=unspecified), or the server throws
    // "column is of type geometry but expression is of type character varying"
    val base = new java.util.Properties()
    val pg = PostgisIO.withPgStringtype("jdbc:postgresql://h/db", base)
    assert(pg.getProperty("stringtype") == "unspecified")
    assert(base.getProperty("stringtype") == null) // caller's Properties untouched

    // a caller-provided value always wins
    val custom = new java.util.Properties()
    custom.setProperty("stringtype", "varchar")
    custom.setProperty("user", "u")
    val kept = PostgisIO.withPgStringtype("jdbc:postgresql://h/db", custom)
    assert(kept.getProperty("stringtype") == "varchar")
    assert(kept.getProperty("user") == "u") // other props carried over

    // non-PostgreSQL URLs (the Derby harness) are untouched
    val derby = PostgisIO.withPgStringtype("jdbc:derby:memory:x", base)
    assert(derby eq base)
  }

  test("Pins: scan/project/filter plans skip the pin; shuffles and nondeterminism require it") {
    val dir = java.nio.file.Files.createTempDirectory("pins_scan").toString
    Seq((1, "a"), (2, "b")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)
    assert(!Pins.needsPin(base))
    assert(!Pins.needsPin(base.filter(col("id") > 0).select(col("id"), upper(col("s")).as("u"))))
    assert(Pins.needsPin(base.repartition(3)))            // round-robin shuffle
    assert(Pins.needsPin(base.orderBy("id")))             // range exchange
    assert(Pins.needsPin(base.groupBy("s").count()))      // aggregate
    assert(Pins.needsPin(base.join(base.select("id"), "id"))) // join
    assert(Pins.needsPin(base.withColumn("r", rand(1))))  // nondeterministic expr
    // LOCAL (driver-held) rows are unstable by fiat: ConvertToLocalRelation
    // can fold an id stamp into sequential driver rows in one consumer while
    // a twin evaluates distributed with partition-masked ids (round-15 bug)
    assert(Pins.needsPin(Seq((1, "a"), (2, "b")).toDF("id", "s")))
    // Union is a narrow concatenation of its children's partitions: stable
    // over stable children, unstable as soon as any child is
    assert(!Pins.needsPin(base.unionByName(base.filter(col("id") > 1))))
    assert(Pins.needsPin(base.unionByName(base.repartition(3))))
  }

  test("grid sjoin left over a stable upstream plans no checkpoint scan (no ExistingRDD)") {
    val dir = java.nio.file.Files.createTempDirectory("pins_sjoin").toString
    Seq((0, Wkb.write(GeomOps.point(1, 1))), (1, Wkb.write(GeomOps.point(99, 99))))
      .toDF("pid", "geometry").write.mode("overwrite").parquet(s"$dir/pts")
    val pts = spark.read.parquet(s"$dir/pts")
    val polys = Seq((7, Wkb.write(GeomOps.makeBox(0, 0, 2, 2)))).toDF("poly_id", "geometry")
    val j = SpatialJoin.sjoin(pts, polys, "intersects", "left", broadcastThreshold = -1)
    val plan = j.queryExecution.optimizedPlan.toString
    // the LEFT (outer, id-stamped) side is a parquet scan — stable, no pin;
    // the right side of how="left" is never re-joined so it is not pinned
    // either (LocalRelation only pins where ids must agree across twins)
    assert(!plan.contains("LogicalRDD"), s"stable scan upstream should not be checkpointed:\n$plan")
    assert(plan.contains("parquet"), s"left side must stay the parquet scan:\n$plan")
    // and the result is still correct
    val rows = j.select("pid", "poly_id").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).sorted.toSeq
    assert(rows == Seq((0, 7), (1, -1)))
  }

  test("grid sjoin left over an unstable upstream IS pinned and stays correct across runs") {
    val rng = new scala.util.Random(19)
    val pts = (0 until 200).map(i => (i, Wkb.write(GeomOps.point(rng.nextDouble() * 50, rng.nextDouble() * 50))))
      .toDF("pid", "geometry").repartition(5) // round-robin
    val polys = (0 until 10).map { i =>
      val x = rng.nextDouble() * 40; val y = rng.nextDouble() * 40
      (i, Wkb.write(GeomOps.makeBox(x, y, x + 10, y + 10)))
    }.toDF("poly_id", "geometry")
    val j = SpatialJoin.sjoin(pts, polys, "intersects", "left", broadcastThreshold = -1)
    assert(j.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    val runs = (1 to 3).map(_ => j.select("pid", "poly_id").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).sorted.toSeq)
    assert(runs.distinct.size == 1)
    assert(runs.head.map(_._1).distinct.size == 200) // every left row survives
  }
}
