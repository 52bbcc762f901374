package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.expressions.{BagMerge, BetaCdf, BetaInv, BottomKValues, CountofScan, GammaFn, LogGammaFn, ParseCsv, RankTDigest, FreqAgg, FreqMergeAgg, FreqTopK, SampleBottomKAgg, SampleBottomKMergeAgg, ThetaAgg, ThetaMergeAgg, ThetaEstimate, ThetaIntersect, ThetaDiff, BagRemoveKeys, BloomContains, DynamicToJson, GeoPointToGeohash, GeohashCentralPoint, GeohashNeighbors, GeohashToPolygon, ParseCommandLine, Base64DecodeToArray, Base64EncodeFromArray, GeoS2CellNeighbors, GeoS2CellToPolygon, GeoPolygonToS2Cells, GeoLineToS2Cells, GeoClosestPointOnLine, GeoLineDensify, GeoPolygonDensify, GeoLineSimplify, GeoPolygonSimplify, GeoPointBuffer, GeoLineBuffer, GeoPolygonBuffer, GeoIntersection2Polygons, GeoUnion2Polygons, GeoIntersection2Lines, GeoIntersectionLineWithPolygon, GeoUnionPolygonsArray, GeoSimplifyPolygonsArray, GeoUnionLinesArray, GeoS2CellParent, GeoS2CellChildren, TreePath, BuildSchemaAgg, GramHashes, MinHashSig, GzipCompress, GzipDecompress, Ipv4RangeToCidr, Ipv6Norm, ParseXml, PercentileTDigest, PunycodeDomainFrom, PunycodeDomainTo, PunycodeEncode, PunycodeDecode, RollingHash, S2CellCentralPoint, GeoPointToS2Cell, SeriesFft, SeriesIfft, SeriesFitPoly, TDigestAgg, TDigestMergeAgg, TermHas, VectorDot, WelchTest, ZlibCompress, ZlibDecompress}

/** Spark plugin entry point: load with
  * `spark.sql.extensions=graft.GraftSessionExtensions` (`graft.GraftSession`
  * sets it; a spark-submit `--conf` works alike). Registers the
  * engine's native Catalyst expressions so they are usable from SQL text,
  * `expr()`, and `call_function` on any session — the SparkSessionExtensions
  * path SURVEY §7 reserves for operators Spark can't express natively.
  */
class GraftSessionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "rolling_hash takes exactly one argument")
        RollingHash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "vector_dot takes exactly two arguments")
        VectorDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "bloom_contains"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "bloom_contains takes exactly two arguments")
        BloomContains(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("countof_scan"),
      new ExpressionInfo(classOf[CountofScan].getName, "countof_scan"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "countof_scan takes exactly two arguments")
        CountofScan(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("gram_hashes"),
      new ExpressionInfo(classOf[GramHashes].getName, "gram_hashes"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "gram_hashes takes exactly two arguments")
        GramHashes(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3, "minhash_sig takes (gramHashes, numHashes, seed)")
        MinHashSig(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("ipv6_norm"),
      new ExpressionInfo(classOf[Ipv6Norm].getName, "ipv6_norm"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "ipv6_norm takes exactly one argument")
        Ipv6Norm(children.head)
      }))
    def unary(name: String, cls: Class[_], mk: org.apache.spark.sql.catalyst.expressions.Expression => org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(children.size == 1, s"$name takes exactly one argument")
          mk(children.head)
        }))
    ext.injectFunction((
      new FunctionIdentifier("welch_test"),
      new ExpressionInfo(classOf[WelchTest].getName, "welch_test"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 6,
          "welch_test takes (mean1, var1, count1, mean2, var2, count2)")
        WelchTest(children)
      }))
    unary("parse_xml", classOf[ParseXml], ParseXml(_))
    unary("punycode_domain_from_string", classOf[PunycodeDomainFrom], PunycodeDomainFrom(_))
    unary("punycode_domain_to_string", classOf[PunycodeDomainTo], PunycodeDomainTo(_))
    // raw RFC 3492 bootstring (no IDNA pre-processing, no xn-- prefix)
    unary("punycode_from_string", classOf[PunycodeEncode], PunycodeEncode(_))
    unary("punycode_to_string", classOf[PunycodeDecode], PunycodeDecode(_))
    unary("geo_geohash_to_central_point", classOf[GeohashCentralPoint], GeohashCentralPoint(_))
    ext.injectFunction((
      new FunctionIdentifier("geo_point_to_geohash"),
      new ExpressionInfo(classOf[GeoPointToGeohash].getName, "geo_point_to_geohash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2 || children.size == 3,
          "geo_point_to_geohash takes (lng, lat [, accuracy])")
        GeoPointToGeohash(children)
      }))
    // S2 cell family — the bucketed geo-join primitive (cell token as a
    // plain equi-join key; ADX's standard scalable geo aggregation path)
    unary("geo_s2cell_to_central_point", classOf[S2CellCentralPoint], S2CellCentralPoint(_))
    unary("geo_s2cell_neighbors", classOf[GeoS2CellNeighbors], GeoS2CellNeighbors(_))
    unary("geo_s2cell_to_polygon", classOf[GeoS2CellToPolygon], GeoS2CellToPolygon(_))
    ext.injectFunction((
      new FunctionIdentifier("geo_line_to_s2cells"),
      new ExpressionInfo(classOf[GeoLineToS2Cells].getName, "geo_line_to_s2cells"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size >= 1 && children.size <= 3,
          "geo_line_to_s2cells takes (line [, level [, radius]])")
        GeoLineToS2Cells(children)
      }))
    ext.injectFunction((
      new FunctionIdentifier("geo_point_buffer"),
      new ExpressionInfo(classOf[GeoPointBuffer].getName, "geo_point_buffer"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3 || children.size == 4,
          "geo_point_buffer takes (lng, lat, radius [, tolerance])")
        GeoPointBuffer(children)
      }))
    Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression, Class[_])](
      ("geo_line_densify", GeoLineDensify(_), classOf[GeoLineDensify]),
      ("geo_polygon_densify", GeoPolygonDensify(_), classOf[GeoPolygonDensify]),
      ("geo_line_simplify", GeoLineSimplify(_), classOf[GeoLineSimplify]),
      ("geo_polygon_simplify", GeoPolygonSimplify(_), classOf[GeoPolygonSimplify])
    ).foreach { case (nm, mk, cls) =>
      ext.injectFunction((
        new FunctionIdentifier(nm),
        new ExpressionInfo(cls.getName, nm),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(children.size == 1 || children.size == 2,
            s"$nm takes (shape [, tolerance_m])")
          mk(children)
        }))
    }
    Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression, Class[_])](
      ("geo_line_buffer", GeoLineBuffer(_), classOf[GeoLineBuffer]),
      ("geo_polygon_buffer", GeoPolygonBuffer(_), classOf[GeoPolygonBuffer])
    ).foreach { case (nm, mk, cls) =>
      ext.injectFunction((
        new FunctionIdentifier(nm),
        new ExpressionInfo(cls.getName, nm),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(children.size == 2 || children.size == 3,
            s"$nm takes (shape, radius_m [, tolerance_m])")
          mk(children)
        }))
    }
    unary("geo_s2cell_children", classOf[GeoS2CellChildren], GeoS2CellChildren(_))
    unary("treepath", classOf[TreePath], TreePath(_))
    unary("buildschema", classOf[BuildSchemaAgg], BuildSchemaAgg(_))
    ext.injectFunction((
      new FunctionIdentifier("geo_s2cell_parent"),
      new ExpressionInfo(classOf[GeoS2CellParent].getName, "geo_s2cell_parent"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1 || children.size == 2,
          "geo_s2cell_parent takes (token [, level])")
        GeoS2CellParent(children)
      }))
    Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression, Class[_], String)](
      ("geo_union_polygons_array", GeoUnionPolygonsArray(_),
        classOf[GeoUnionPolygonsArray], "(polygons)"),
      ("geo_union_lines_array", GeoUnionLinesArray(_),
        classOf[GeoUnionLinesArray], "(lines)"),
      ("geo_simplify_polygons_array", GeoSimplifyPolygonsArray(_),
        classOf[GeoSimplifyPolygonsArray], "(polygons [, tolerance_m])")
    ).foreach { case (nm, mk, cls, sig) =>
      ext.injectFunction((
        new FunctionIdentifier(nm),
        new ExpressionInfo(cls.getName, nm),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(children.size == 1 ||
            (children.size == 2 && nm == "geo_simplify_polygons_array"),
            s"$nm takes $sig")
          mk(children)
        }))
    }
    Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression, Class[_])](
      ("geo_intersection_2polygons", GeoIntersection2Polygons(_), classOf[GeoIntersection2Polygons]),
      ("geo_union_2polygons", GeoUnion2Polygons(_), classOf[GeoUnion2Polygons]),
      ("geo_intersection_2lines", GeoIntersection2Lines(_), classOf[GeoIntersection2Lines]),
      ("geo_intersection_line_with_polygon", GeoIntersectionLineWithPolygon(_),
        classOf[GeoIntersectionLineWithPolygon])
    ).foreach { case (nm, mk, cls) =>
      ext.injectFunction((
        new FunctionIdentifier(nm),
        new ExpressionInfo(cls.getName, nm),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(children.size == 2, s"$nm takes (shape1, shape2)")
          mk(children)
        }))
    }
    ext.injectFunction((
      new FunctionIdentifier("geo_closest_point_on_line"),
      new ExpressionInfo(classOf[GeoClosestPointOnLine].getName, "geo_closest_point_on_line"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3, "geo_closest_point_on_line takes (lng, lat, line)")
        GeoClosestPointOnLine(children)
      }))
    ext.injectFunction((
      new FunctionIdentifier("geo_polygon_to_s2cells"),
      new ExpressionInfo(classOf[GeoPolygonToS2Cells].getName, "geo_polygon_to_s2cells"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1 || children.size == 2,
          "geo_polygon_to_s2cells takes (polygon [, level])")
        GeoPolygonToS2Cells(children)
      }))
    Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression, Class[_])](
      ("series_fft", SeriesFft(_), classOf[SeriesFft]),
      ("series_ifft", SeriesIfft(_), classOf[SeriesIfft])
    ).foreach { case (nm, mk, cls) =>
      ext.injectFunction((
        new FunctionIdentifier(nm),
        new ExpressionInfo(cls.getName, nm),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(children.size == 1 || children.size == 2,
            s"$nm takes (x_real [, x_imag])")
          mk(children)
        }))
    }
    ext.injectFunction((
      new FunctionIdentifier("series_fit_poly"),
      new ExpressionInfo(classOf[SeriesFitPoly].getName, "series_fit_poly"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1 || children.size == 2,
          "series_fit_poly takes (y [, degree])")
        SeriesFitPoly(children)
      }))
    unary("geo_geohash_neighbors", classOf[GeohashNeighbors], GeohashNeighbors(_))
    ext.injectFunction((
      new FunctionIdentifier("geo_point_to_s2cell"),
      new ExpressionInfo(classOf[GeoPointToS2Cell].getName, "geo_point_to_s2cell"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2 || children.size == 3,
          "geo_point_to_s2cell takes (lng, lat [, level])")
        GeoPointToS2Cell(children)
      }))
    unary("theta", classOf[ThetaAgg], ThetaAgg(_))
    unary("theta_merge", classOf[ThetaMergeAgg], ThetaMergeAgg(_))
    unary("theta_estimate", classOf[ThetaEstimate], ThetaEstimate(_))
    def binary(name: String, cls: Class[_], mk: (org.apache.spark.sql.catalyst.expressions.Expression, org.apache.spark.sql.catalyst.expressions.Expression) => org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(children.size == 2, s"$name takes exactly two arguments")
          mk(children(0), children(1))
        }))
    binary("ipv4_range_to_cidr_list", classOf[Ipv4RangeToCidr], Ipv4RangeToCidr(_, _))
    binary("theta_intersect", classOf[ThetaIntersect], ThetaIntersect(_, _))
    binary("theta_diff", classOf[ThetaDiff], ThetaDiff(_, _))
    unary("freq", classOf[FreqAgg], FreqAgg(_))
    unary("freq_merge", classOf[FreqMergeAgg], FreqMergeAgg(_))
    binary("sample_bottomk", classOf[SampleBottomKAgg], SampleBottomKAgg(_, _))
    unary("sample_bottomk_merge", classOf[SampleBottomKMergeAgg], SampleBottomKMergeAgg(_))
    unary("bottomk_values", classOf[BottomKValues], BottomKValues(_))
    unary("gamma", classOf[GammaFn], GammaFn(_))
    unary("loggamma", classOf[LogGammaFn], LogGammaFn(_))
    unary("parse_csv", classOf[ParseCsv], ParseCsv(_))
    binary("parse_command_line", classOf[ParseCommandLine], ParseCommandLine(_, _))
    unary("base64_decode_toarray", classOf[Base64DecodeToArray], Base64DecodeToArray(_))
    unary("base64_encode_fromarray", classOf[Base64EncodeFromArray], Base64EncodeFromArray(_))
    unary("geo_geohash_to_polygon", classOf[GeohashToPolygon], GeohashToPolygon(_))
    ext.injectFunction((
      new FunctionIdentifier("beta_cdf"),
      new ExpressionInfo(classOf[BetaCdf].getName, "beta_cdf"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3, "beta_cdf takes (x, a, b)")
        BetaCdf(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("beta_inv"),
      new ExpressionInfo(classOf[BetaInv].getName, "beta_inv"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3, "beta_inv takes (p, a, b)")
        BetaInv(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("freq_topk"),
      new ExpressionInfo(classOf[FreqTopK].getName, "freq_topk"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "freq_topk takes (sketch, k)")
        FreqTopK(children.head, children(1))
      }))
    unary("tdigest", classOf[TDigestAgg], TDigestAgg(_))
    unary("tdigest_merge", classOf[TDigestMergeAgg], TDigestMergeAgg(_))
    ext.injectFunction((
      new FunctionIdentifier("percentile_tdigest"),
      new ExpressionInfo(classOf[PercentileTDigest].getName, "percentile_tdigest"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "percentile_tdigest takes (sketch, percentile)")
        PercentileTDigest(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rank_tdigest"),
      new ExpressionInfo(classOf[RankTDigest].getName, "rank_tdigest"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "rank_tdigest takes (sketch, value)")
        RankTDigest(children.head, children(1))
      }))
    unary("zlib_compress_to_base64_string", classOf[ZlibCompress], ZlibCompress(_))
    unary("zlib_decompress_from_base64_string", classOf[ZlibDecompress], ZlibDecompress(_))
    unary("gzip_compress_to_base64_string", classOf[GzipCompress], GzipCompress(_))
    unary("gzip_decompress_from_base64_string", classOf[GzipDecompress], GzipDecompress(_))
    ext.injectFunction((
      new FunctionIdentifier("bag_merge"),
      new ExpressionInfo(classOf[BagMerge].getName, "bag_merge"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size >= 2, "bag_merge takes at least two bags")
        BagMerge(children)
      }))
    unary("dynamic_to_json", classOf[DynamicToJson], DynamicToJson(_))
    ext.injectFunction((
      new FunctionIdentifier("bag_remove_keys"),
      new ExpressionInfo(classOf[BagRemoveKeys].getName, "bag_remove_keys"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "bag_remove_keys takes (bag, keys)")
        BagRemoveKeys(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("term_has"),
      new ExpressionInfo(classOf[TermHas].getName, "term_has"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "term_has takes exactly two arguments")
        TermHas(children.head, children(1))
      }))
  }
}
