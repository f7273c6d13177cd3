package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.geom.Wkb
import graft.io.{GeoIO, Gml}
import org.apache.spark.sql.functions._

class GmlSpec extends SparkSuite {
  import spark.implicits._

  test("roundtrip preserves typed attributes (via companion .xsd) and geometry") {
    val df = Seq(
      (1L, "alpha & <co>", 1.5, true, 10.0, 20.0),
      (2L, "beta", -0.25, false, -30.5, 45.25)).toDF("id", "name", "score", "flag", "x", "y")
    val gdf0 = GeoDataFrame.pointsFromXy(df, "x", "y")
    val gdf = gdf0.copy(df = gdf0.df.drop("x", "y"))
    val dir = java.nio.file.Files.createTempDirectory("gml").toString
    Gml.write(gdf, s"$dir/pts.gml")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/pts.xsd")))
    val back = Gml.read(spark, s"$dir/pts.gml")
    assert(back.crs.get("geometry").contains("EPSG:4326"))
    val rows = back.df.select(col("id"), col("name"), col("score"), col("flag"),
      st_x(col("geometry")), st_y(col("geometry")))
      .as[(Long, String, Double, Boolean, Double, Double)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "alpha & <co>", 1.5, true, 10.0, 20.0),
      (2L, "beta", -0.25, false, -30.5, 45.25)))
    // a glob spelling must resolve the per-file sibling .xsd the same way
    val viaGlob = Gml.read(spark, s"$dir/*.gml")
    assert(viaGlob.df.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    assert(viaGlob.df.schema("flag").dataType == org.apache.spark.sql.types.BooleanType)
    assert(viaGlob.df.count() == 2)
  }

  test("GML writer child order matches GDAL's ogr layout and the companion .xsd") {
    // GDAL's GML writer puts <ogr:geometryProperty> first inside the
    // feature, then attributes in schema order; the companion .xsd's
    // xs:element sequence must list attributes in the same order the
    // features emit them (frame column order) or validation fails
    val df = Seq((1L, "n", 2.5, 10.0, 20.0)).toDF("id", "name", "score", "x", "y")
    val gdf0 = GeoDataFrame.pointsFromXy(df, "x", "y")
    val gdf = gdf0.copy(df = gdf0.df.drop("x", "y"))
    val dir = java.nio.file.Files.createTempDirectory("gmlord").toString
    Gml.write(gdf, s"$dir/o.gml")
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/o.gml")), "UTF-8")
    val marks = Seq("<gml:featureMember>", "<ogr:feature>", "<ogr:geometryProperty>",
      "</ogr:geometryProperty>", "<ogr:id>", "<ogr:name>", "<ogr:score>", "</ogr:feature>")
    val pos = marks.map { m => val i = xml.indexOf(m); assert(i >= 0, s"missing $m"); i }
    assert(pos == pos.sorted, s"GML child order violated: ${marks.zip(pos)}")
    // the .xsd element sequence mirrors the attribute emit order
    val xsd = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/o.xsd")), "UTF-8")
    val xsdPos = Seq("\"id\"", "\"name\"", "\"score\"").map { m =>
      val i = xsd.indexOf(m); assert(i >= 0, s"missing $m in xsd"); i }
    assert(xsdPos == xsdPos.sorted)
  }

  test("all geometry families roundtrip through GML3") {
    val wkts = Seq(
      "POINT (1 2)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "MULTIPOINT ((1 1), (2 2))",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
      "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 2 2))")
    val df = wkts.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "wkt")
    val gdf = GeoDataFrame(df.withColumn("geometry", st_geomfromwkt(col("wkt"))).drop("wkt"))
    val dir = java.nio.file.Files.createTempDirectory("gmlg").toString
    Gml.write(gdf, s"$dir/g.gml")
    val back = Gml.read(spark, s"$dir/g.gml").df
      .select(col("id"), st_astext(col("geometry")).as("wkt"))
      .as[(Long, String)].collect().sortBy(_._1).map(_._2)
    wkts.zip(back).foreach { case (orig, got) =>
      val a = Wkb.readWkt(orig); val b = Wkb.readWkt(got)
      assert(a.equalsExact(b), s"$orig != $got")
    }
  }

  test("reads hand-written GML2 (coordinates/outerBoundaryIs) without an xsd") {
    val dir = java.nio.file.Files.createTempDirectory("gml2").toString
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs" xmlns:gml="http://www.opengis.net/gml" xmlns:app="http://example.org/app">
        |<gml:boundedBy><gml:Box><gml:coordinates>0,0 10,10</gml:coordinates></gml:Box></gml:boundedBy>
        |<gml:featureMember><app:city>
        |  <app:name>Delft</app:name>
        |  <app:pop>100000</app:pop>
        |  <app:geom><gml:Point srsName="EPSG:28992"><gml:coordinates>4.35,52.01</gml:coordinates></gml:Point></app:geom>
        |</app:city></gml:featureMember>
        |<gml:featureMember><app:city>
        |  <app:name>Leiden</app:name>
        |  <app:pop>120000</app:pop>
        |  <app:geom><gml:Polygon srsName="EPSG:28992"><gml:outerBoundaryIs><gml:LinearRing><gml:coordinates>0,0 4,0 4,4 0,4 0,0</gml:coordinates></gml:LinearRing></gml:outerBoundaryIs></gml:Polygon></app:geom>
        |</app:city></gml:featureMember>
        |</wfs:FeatureCollection>""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/h.gml"), xml.getBytes("UTF-8"))
    val g = Gml.read(spark, s"$dir/h.gml")
    assert(g.df.count() == 2)
    assert(g.df.columns.toSet == Set("name", "pop", "geometry"))
    assert(g.crs.get("geometry").contains("EPSG:28992")) // sniffed from srsName
    val delft = g.df.filter(col("name") === "Delft")
      .select(col("pop"), round(st_x(col("geometry")), 2)).as[(String, Double)].head()
    assert(delft == (("100000", 4.35))) // untyped without xsd -> string
    val area = g.df.filter(col("name") === "Leiden")
      .select(st_area(col("geometry"))).as[Double].head()
    assert(area == 16.0)
  }

  test("reads GML3 posList with srsDimension=3 and featureMembers form") {
    val dir = java.nio.file.Files.createTempDirectory("gml3").toString
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml/3.2" xmlns:app="http://example.org/app">
        |<gml:featureMembers>
        |<app:track><app:tid>7</app:tid>
        |  <app:geom><gml:LineString><gml:posList srsDimension="3">0 0 1 2 2 3 4 0 5</gml:posList></gml:LineString></app:geom>
        |</app:track>
        |<app:track><app:tid>8</app:tid>
        |  <app:geom><gml:Point><gml:pos>9 9</gml:pos></gml:Point></app:geom>
        |</app:track>
        |</gml:featureMembers>
        |</gml:FeatureCollection>""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.gml"), xml.getBytes("UTF-8"))
    val g = Gml.read(spark, s"$dir/t.gml")
    assert(g.df.count() == 2)
    val line = g.df.filter(col("tid") === "7")
      .select(st_astext(col("geometry"))).as[String].head()
    assert(line.contains("0 0 1") && line.contains("4 0 5")) // Z survives
    val pt = g.df.filter(col("tid") === "8")
      .select(st_x(col("geometry")), st_y(col("geometry"))).as[(Double, Double)].head()
    assert(pt == ((9.0, 9.0)))
  }

  test("WRITE side emits srsDimension=3 so Z survives our own round-trip") {
    // regression: the writer used to emit 3-number posList/pos text without
    // the attribute, so the reader's 2-D default silently dropped every
    // third ordinate (and mis-paired linework coordinates) on read-back
    val df = Seq((1L, "POINT Z (1 2 3)"), (2L, "LINESTRING Z (0 0 1, 4 0 5)")).toDF("id", "wkt")
    val g0 = GeoDataFrame.fromWkt(df, "wkt")
    val dir = java.nio.file.Files.createTempDirectory("gmlz").toString
    Gml.write(g0.copy(df = g0.df.drop("wkt")), s"$dir/z.gml")
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/z.gml")), "UTF-8")
    assert(raw.contains("srsDimension=\"3\""))
    val back = Gml.read(spark, s"$dir/z.gml")
    val w = back.df.select(col("id"), st_astext(col("geometry"))).as[(Long, String)]
      .collect().toMap
    assert(w(1L) == "POINT Z(1 2 3)")
    assert(w(2L) == "LINESTRING Z(0 0 1, 4 0 5)")
  }

  test("column names invalid as XML element names are laundered like GDAL") {
    val df = Seq((1L, "v", 3.0, 4.0)).toDF("id", "my col!", "x", "y")
    val g0 = GeoDataFrame.pointsFromXy(df, "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("gmln").toString
    Gml.write(g0.copy(df = g0.df.drop("x", "y")), s"$dir/n.gml")
    val back = Gml.read(spark, s"$dir/n.gml")
    assert(back.df.columns.toSet == Set("id", "my_col_", "geometry"))
    assert(back.df.select("my_col_").as[String].head() == "v")
  }

  test("GeoDataFrame.toFile / readFile delegate to the format dispatch") {
    val df = Seq((1L, 3.0, 4.0), (2L, 30.0, 40.0)).toDF("id", "x", "y")
    val g0 = GeoDataFrame.pointsFromXy(df, "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("gdfio").toString
    g0.copy(df = g0.df.drop("x", "y")).toFile(s"$dir/a.gml")
    val back = GeoDataFrame.readFile(spark, s"$dir/a.gml",
      bbox = Some((0.0, 0.0, 10.0, 10.0)))
    assert(back.df.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("nulls survive and bbox/columns/where args + GeoIO dispatch work") {
    val df = Seq((1L, "a", Some(1.0), Some(1.0)), (2L, "b", Some(50.0), Some(50.0)),
      (3L, "a", Some(2.0), Some(2.0))).toDF("id", "kind", "x", "y")
    val g0 = GeoDataFrame.pointsFromXy(df, "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("gmlargs").toString
    GeoIO.toFile(g0.copy(df = g0.df.drop("x", "y")), s"$dir/a.gml")
    val filtered = GeoIO.readFile(spark, s"$dir/a.gml",
      bbox = Some((0.0, 0.0, 10.0, 10.0)), columns = Some(Seq("id")),
      where = Some("kind = 'a'"))
    assert(filtered.df.columns.toSet == Set("id", "geometry"))
    assert(filtered.df.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("distributed writePartitioned emits valid per-partition documents + shared xsd") {
    val df = (1 to 40).map(i => (i.toLong, i * 1.0, i * 2.0)).toDF("id", "x", "y")
    val g0 = GeoDataFrame.pointsFromXy(df.repartition(3), "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("gmlpart").toString
    Gml.writePartitioned(g0.copy(df = g0.df.drop("x", "y")), s"$dir/parts")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/parts/schema.xsd")))
    val back = Gml.read(spark, s"$dir/parts")
    assert(back.df.count() == 40)
    assert(back.df.agg(sum("id")).as[Long].head() == (1 to 40).map(_.toLong).sum)
    // typed via the shared xsd
    assert(back.df.schema("id").dataType == org.apache.spark.sql.types.LongType)
    // glob paths must work too (CRS sniff must not listStatus a pattern) and
    // must see the same .xsd companion as the directory spelling: same types
    val viaGlob = Gml.read(spark, s"$dir/parts/*.gml")
    assert(viaGlob.df.count() == 40)
    assert(viaGlob.crs.get("geometry").contains("EPSG:4326"))
    assert(viaGlob.df.schema("id").dataType == org.apache.spark.sql.types.LongType)
  }

  test("tolerable numerics (+5, 007, 5.) normalize like GDAL; rows never null out") {
    // GDAL coerces these spellings in an xs:int field to 5/7/5; quoting them
    // instead would downgrade the whole inferred column to string, and
    // rendering them raw would invalidate the row's JSON and from_json would
    // null out EVERY field of that feature
    val dir = java.nio.file.Files.createTempDirectory("gmlnum").toString
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs" xmlns:gml="http://www.opengis.net/gml" xmlns:app="http://example.org/app">
        |<gml:featureMember><app:f>
        |  <app:name>ok</app:name><app:v>42</app:v><app:w>1</app:w>
        |  <app:geom><gml:Point><gml:coordinates>1,1</gml:coordinates></gml:Point></app:geom>
        |</app:f></gml:featureMember>
        |<gml:featureMember><app:f>
        |  <app:name>plus</app:name><app:v>+5</app:v><app:w>1.2.3</app:w>
        |  <app:geom><gml:Point><gml:coordinates>2,2</gml:coordinates></gml:Point></app:geom>
        |</app:f></gml:featureMember>
        |<gml:featureMember><app:f>
        |  <app:name>padded</app:name><app:v>007</app:v><app:w>2</app:w>
        |  <app:geom><gml:Point><gml:coordinates>3,3</gml:coordinates></gml:Point></app:geom>
        |</app:f></gml:featureMember>
        |<gml:featureMember><app:f>
        |  <app:name>dot</app:name><app:v>5.</app:v><app:w>3</app:w>
        |  <app:geom><gml:Point><gml:coordinates>4,4</gml:coordinates></gml:Point></app:geom>
        |</app:f></gml:featureMember>
        |</wfs:FeatureCollection>""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/n.gml"), xml.getBytes("UTF-8"))
    val xsd =
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |<xs:element name="name" type="xs:string"/>
        |<xs:element name="v" type="xs:int"/>
        |<xs:element name="w" type="xs:int"/>
        |</xs:schema>""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/n.xsd"), xsd.getBytes("UTF-8"))
    val g = Gml.read(spark, s"$dir/n.gml")
    assert(g.df.count() == 4)
    // v stays a NUMERIC column with GDAL's parse of every spelling
    assert(g.df.schema("v").dataType == org.apache.spark.sql.types.LongType)
    val got = g.df.select(col("name"), col("v"))
      .as[(String, Long)].collect().toMap
    assert(got == Map("ok" -> 42L, "plus" -> 5L, "padded" -> 7L, "dot" -> 5L))
    // a GENUINELY non-numeric value ('1.2.3') still quotes — its row keeps
    // every other field instead of nulling out (column decays to string)
    val w = g.df.select(col("name"), col("w").cast("string"))
      .as[(String, String)].collect().toMap
    assert(w("plus") == "1.2.3" && w("ok") == "1" && w("dot") == "3")
  }

  test("glob over heterogeneous per-file schemas merges ALL .xsd companions") {
    // a.xsd types only `va`; b.xsd types only `vb`. Before the merge fix the
    // first name-sorted sibling won, so b's numeric column decayed to string.
    // A field typed differently across siblings widens: int+double -> double,
    // otherwise -> string.
    val dir = java.nio.file.Files.createTempDirectory("gmlhet").toString
    def fc(body: String) =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs" xmlns:gml="http://www.opengis.net/gml" xmlns:app="http://example.org/app">
         |$body
         |</wfs:FeatureCollection>""".stripMargin
    val aXml = fc(
      """<gml:featureMember><app:f>
        |  <app:va>7</app:va><app:d>3</app:d><app:s>1</app:s>
        |  <app:geom><gml:Point><gml:coordinates>1,1</gml:coordinates></gml:Point></app:geom>
        |</app:f></gml:featureMember>""".stripMargin)
    val bXml = fc(
      """<gml:featureMember><app:f>
        |  <app:vb>2.5</app:vb><app:d>1.5</app:d><app:s>x</app:s>
        |  <app:geom><gml:Point><gml:coordinates>2,2</gml:coordinates></gml:Point></app:geom>
        |</app:f></gml:featureMember>""".stripMargin)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.gml"), aXml.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.gml"), bXml.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.xsd"),
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |<xs:element name="va" type="xs:int"/>
        |<xs:element name="d" type="xs:int"/>
        |<xs:element name="s" type="xs:int"/>
        |</xs:schema>""".stripMargin.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.xsd"),
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |<xs:element name="vb" type="xs:double"/>
        |<xs:element name="d" type="xs:double"/>
        |<xs:element name="s" type="xs:string"/>
        |</xs:schema>""".stripMargin.getBytes("UTF-8"))
    val g = Gml.read(spark, s"$dir/*.gml")
    assert(g.df.count() == 2)
    import org.apache.spark.sql.types._
    assert(g.df.schema("va").dataType == LongType)   // from a.xsd
    assert(g.df.schema("vb").dataType == DoubleType) // from b.xsd — merged in
    assert(g.df.schema("d").dataType == DoubleType)  // int+double widens
    assert(g.df.schema("s").dataType == StringType)  // conflict -> string
    val dVals = g.df.select(col("d")).as[Option[Double]].collect().flatten.sorted.toSeq
    assert(dVals == Seq(1.5, 3.0))
  }
}
