package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._

/** [[ProductListLoader]] against the reference's golden config fixtures:
  * `yaml_test1` / `yaml_test2` from test_dict_tools.py:43-145, whose
  * expected flattened work-lists are the `plist_iter` goldens at
  * test_dict_tools.py:166-192 — plus the launcher conventions (tuple
  * keys launcher.py:63-77, `null:` areas launcher.py:479-480, safe
  * loading vs launcher.py:404's UnsafeLoader). */
class LoaderSpec extends AnyFunSuite {

  // test_dict_tools.py:43-100 (yaml_test1) verbatim in shape: product
  // formats declared per product; includes the null: area.
  private val yamlTest1 =
    """product_list:
      |  something: foo
      |  min_coverage: 5.0
      |  areas:
      |      euron1:
      |        areaname: euron1_in_fname
      |        min_coverage: 20.0
      |        products:
      |          cloud_top_height:
      |            productname: cloud_top_height_in_fname
      |            output_dir: /tmp/satdmz/pps/www/latest_2018/
      |            formats:
      |              - format: png
      |                writer: simple_image
      |              - format: jpg
      |                writer: simple_image
      |                fill_value: 0
      |            fname_pattern: "{platform_name:s}_{start_time:%Y%m%d_%H%M}_{areaname:s}_ctth_static.{format}"
      |
      |      germ:
      |        areaname: germ_in_fname
      |        fname_pattern: "{start_time:%Y%m%d_%H%M}_{areaname:s}_{productname}.{format}"
      |        products:
      |          cloudtype:
      |            productname: cloudtype_in_fname
      |            output_dir: /tmp/satdmz/pps/www/latest_2018/
      |            formats:
      |              - format: png
      |                writer: simple_image
      |
      |      omerc_bb:
      |        areaname: omerc_bb
      |        output_dir: /tmp
      |        products:
      |          ct:
      |            productname: ct
      |            formats:
      |              - format: nc
      |                writer: cf
      |          cloud_top_height:
      |            productname: cloud_top_height
      |            formats:
      |              - format: tif
      |                writer: geotiff
      |
      |      null:
      |        areaname: null_in_fname
      |        fname_pattern: "{start_time:%Y%m%d_%H%M}_{areaname:s}_{productname}.{format}"
      |        products:
      |          cloudtype:
      |            productname: cloudtype_in_fname
      |            output_dir: /tmp/satdmz/pps/www/latest_2018/
      |            formats:
      |              - format: png
      |                writer: simple_image
      |""".stripMargin

  // test_dict_tools.py:102-145 (yaml_test2): germ declares formats at the
  // AREA level and its product declares none — plist_iter must inherit.
  private val yamlTest2 =
    """product_list:
      |  something: foo
      |  min_coverage: 5.0
      |  areas:
      |      euron1:
      |        areaname: euron1_in_fname
      |        min_coverage: 20.0
      |        products:
      |          cloud_top_height:
      |            productname: cloud_top_height_in_fname
      |            output_dir: /tmp/satdmz/pps/www/latest_2018/
      |            formats:
      |              - format: png
      |                writer: simple_image
      |              - format: jpg
      |                writer: simple_image
      |                fill_value: 0
      |            fname_pattern: "{platform_name:s}_{start_time:%Y%m%d_%H%M}_{areaname:s}_ctth_static.{format}"
      |
      |      germ:
      |        areaname: germ_in_fname
      |        fname_pattern: "{start_time:%Y%m%d_%H%M}_{areaname:s}_{productname}.{format}"
      |        formats:
      |          - format: png
      |            writer: simple_image
      |        products:
      |          cloudtype:
      |            productname: cloudtype_in_fname
      |            output_dir: /tmp/satdmz/pps/www/latest_2018/
      |
      |      omerc_bb:
      |        areaname: omerc_bb
      |        output_dir: /tmp
      |        products:
      |          ct:
      |            productname: ct
      |            formats:
      |              - format: nc
      |                writer: cf
      |          cloud_top_height:
      |            productname: cloud_top_height
      |            formats:
      |              - format: tif
      |                writer: geotiff
      |""".stripMargin

  /** The plist_iter goldens (test_dict_tools.py:166-187), as
    * (area, product, format, settings-subset) — settings rendered as the
    * loader's canonical strings. The reference's zip() stops at its 5
    * listed expectations; the null: area's item is the tree's 6th and is
    * asserted explicitly in the yaml_test1 case. */
  private val golden = Seq(
    (Some("euron1"), "cloud_top_height", "png", Map(
      "something" -> "foo", "min_coverage" -> "20.0",
      "areaname" -> "euron1_in_fname",
      "productname" -> "cloud_top_height_in_fname",
      "output_dir" -> "/tmp/satdmz/pps/www/latest_2018/",
      "writer" -> "simple_image",
      "fname_pattern" -> "{platform_name:s}_{start_time:%Y%m%d_%H%M}_{areaname:s}_ctth_static.{format}")),
    (Some("euron1"), "cloud_top_height", "jpg", Map(
      "something" -> "foo", "min_coverage" -> "20.0",
      "areaname" -> "euron1_in_fname",
      "productname" -> "cloud_top_height_in_fname",
      "output_dir" -> "/tmp/satdmz/pps/www/latest_2018/",
      "writer" -> "simple_image", "fill_value" -> "0",
      "fname_pattern" -> "{platform_name:s}_{start_time:%Y%m%d_%H%M}_{areaname:s}_ctth_static.{format}")),
    (Some("germ"), "cloudtype", "png", Map(
      "something" -> "foo", "min_coverage" -> "5.0",
      "areaname" -> "germ_in_fname",
      "productname" -> "cloudtype_in_fname",
      "output_dir" -> "/tmp/satdmz/pps/www/latest_2018/",
      "writer" -> "simple_image",
      "fname_pattern" -> "{start_time:%Y%m%d_%H%M}_{areaname:s}_{productname}.{format}")),
    (Some("omerc_bb"), "ct", "nc", Map(
      "something" -> "foo", "min_coverage" -> "5.0",
      "areaname" -> "omerc_bb", "productname" -> "ct",
      "output_dir" -> "/tmp", "writer" -> "cf")),
    (Some("omerc_bb"), "cloud_top_height", "tif", Map(
      "something" -> "foo", "min_coverage" -> "5.0",
      "areaname" -> "omerc_bb", "productname" -> "cloud_top_height",
      "output_dir" -> "/tmp", "writer" -> "geotiff")))

  private def checkGolden(items: Seq[WorkItem]): Unit =
    golden.zip(items).foreach { case ((area, product, format, settings), it) =>
      assert(it.area == area, s"area of $it")
      assert(it.product == product)
      assert(it.format == format)
      settings.foreach { case (k, v) =>
        assert(it.settings.get(k).contains(v), s"setting $k of $product/$format")
      }
    }

  test("yaml_test1 golden: per-product formats, null area, inheritance") {
    val cfg = ProductListLoader.fromYaml(yamlTest1)
    val items = Worklist.expand(cfg.productList)
    assert(items.size == 6) // 2 + 1 + 2 + 1 (null area)
    checkGolden(items)
    // the null: area's item (the reference zip() never reaches it)
    val n = items.last
    assert(n.area.isEmpty)
    assert(n.product == "cloudtype" && n.format == "png")
    assert(n.settings("areaname") == "null_in_fname")
    assert(n.settings("writer") == "simple_image")
    // every item gets the default priority
    assert(items.forall(_.priority == Worklist.DefaultPriority))
  }

  test("yaml_test2 golden: area-level formats inherit to bare products") {
    val cfg = ProductListLoader.fromYaml(yamlTest2)
    val items = Worklist.expand(cfg.productList)
    assert(items.size == 5)
    checkGolden(items)
  }

  test("root-level formats inherit two levels down") {
    val cfg = ProductListLoader.fromYaml(
      """product_list:
        |  formats:
        |    - format: nc
        |      writer: cf
        |  areas:
        |    euro:
        |      products:
        |        ct: {productname: ct}
        |""".stripMargin)
    val items = Worklist.expand(cfg.productList)
    assert(items.map(i => (i.format, i.settings("writer"))) == Seq(("nc", "cf")))
  }

  test("products with no formats anywhere get the tif default") {
    val cfg = ProductListLoader.fromYaml(
      """product_list:
        |  areas:
        |    euro:
        |      products:
        |        ct: {productname: ct}
        |""".stripMargin)
    assert(Worklist.expand(cfg.productList).map(_.format) == Seq("tif"))
  }

  test("anchors and aliases resolve (pl.yaml's &output_dir pattern)") {
    val cfg = ProductListLoader.fromYaml(
      """product_list:
        |  output_dir: &output_dir
        |    /tmp/out/
        |  fname_pattern: &fname "{platform_name}_{productname}.{format}"
        |  areas:
        |    euro:
        |      products:
        |        ct:
        |          output_dir: *output_dir
        |          fname_pattern: *fname
        |""".stripMargin)
    val it = Worklist.expand(cfg.productList).head
    assert(it.settings("output_dir") == "/tmp/out/")
    assert(it.settings("fname_pattern") == "{platform_name}_{productname}.{format}")
  }

  test("tuple product keys load members (launcher.py:63-77)") {
    val cfg = ProductListLoader.fromYaml(
      """product_list:
        |  areas:
        |    euro:
        |      products:
        |        ("cloud_top_height", "ct"):
        |          productname: ctth_group
        |""".stripMargin)
    val it = Worklist.expand(cfg.productList).head
    assert(it.product == "(cloud_top_height, ct)")
    assert(it.members == Seq("cloud_top_height", "ct"))
    // trailing-comma single-element tuple (the reference regex's
    // `(, *)` arm): ("ct",)
    val cfg2 = ProductListLoader.fromYaml(
      """product_list:
        |  areas:
        |    euro:
        |      products:
        |        ("ct",): {productname: ct}
        |""".stripMargin)
    assert(Worklist.expand(cfg2.productList).head.members == Seq("ct"))
  }

  test("priority: integer, null (= default), and absence") {
    val cfg = ProductListLoader.fromYaml(
      """product_list:
        |  areas:
        |    fast:
        |      priority: 1
        |      products: {ct: {productname: ct}}
        |    dflt:
        |      priority: null
        |      products: {ct: {productname: ct}}
        |    unset:
        |      products: {ct: {productname: ct}}
        |""".stripMargin)
    val byArea = Worklist.expand(cfg.productList).map(i => i.area.get -> i.priority).toMap
    assert(byArea == Map("fast" -> 1, "dflt" -> 999, "unset" -> 999))
  }

  test("!!python tags are rejected with a config error (vs UnsafeLoader)") {
    val e = intercept[ConfigException] {
      ProductListLoader.fromYaml(
        """product_list:
          |  areas: {}
          |workers:
          |  - fun: !!python/name:trollflow2.plugins.create_scene
          |""".stripMargin)
    }
    assert(e.getMessage.contains("python/"))
    assert(e.getMessage.contains("registry name"))
  }

  test("workers load by registry name; dotted paths reduce; tag strings rejected") {
    val cfg = ProductListLoader.fromYaml(
      """product_list:
        |  areas: {}
        |workers:
        |  - fun: create_scene
        |  - fun: trollflow2.plugins.load_composites
        |  - fun: resample
        |    radius_of_influence: 5000
        |""".stripMargin)
    assert(cfg.workers.map(_.fun) == Seq("create_scene", "load_composites", "resample"))
    assert(cfg.workers.last.options == Map("radius_of_influence" -> "5000"))
    val e = intercept[ConfigException] {
      ProductListLoader.fromYaml(
        """{"product_list": {"areas": {}},
          |  "workers": [{"fun": "!!python/name:trollflow2.plugins.create_scene"}]}""".stripMargin)
    }
    assert(e.getMessage.contains("python/"))
  }

  test("JSON documents load identically to YAML") {
    val json =
      """{"product_list": {
        |  "something": "foo", "min_coverage": 5.0,
        |  "areas": {
        |    "euron1": {
        |      "areaname": "euron1_in_fname", "min_coverage": 20.0,
        |      "products": {
        |        "cloud_top_height": {
        |          "productname": "cloud_top_height_in_fname",
        |          "output_dir": "/tmp/satdmz/pps/www/latest_2018/",
        |          "formats": [
        |            {"format": "png", "writer": "simple_image"},
        |            {"format": "jpg", "writer": "simple_image", "fill_value": 0}],
        |          "fname_pattern": "{platform_name:s}_{start_time:%Y%m%d_%H%M}_{areaname:s}_ctth_static.{format}"
        |}}}}}}""".stripMargin
    val viaJson = Worklist.expand(ProductListLoader.fromYaml(json).productList)
    val viaYaml = Worklist.expand(ProductListLoader.fromYaml(yamlTest1).productList)
    assert(viaJson == viaYaml.take(2))
  }

  test("/common fallback namespace loads and coalesces last") {
    val cfg = ProductListLoader.fromYaml(
      """common:
        |  publish_topic: /fallback/topic
        |  min_coverage: 1.0
        |product_list:
        |  min_coverage: 5.0
        |  areas:
        |    euro:
        |      products: {ct: {productname: ct}}
        |""".stripMargin)
    val spec = cfg.productList
    val it = Worklist.expand(spec).head
    assert(Worklist.configValue(spec, it, "min_coverage").contains("5.0"))
    assert(Worklist.configValue(spec, it, "publish_topic").contains("/fallback/topic"))
  }

  test("non-scalar settings survive as compact JSON; nulls are dropped") {
    val cfg = ProductListLoader.fromYaml(
      """product_list:
        |  subscribe_topics:
        |    - /foo/bar
        |    - /bar/foo
        |  sunlight_coverage:
        |    min: 20.0
        |    max: 80.0
        |  use_extern_calib: false
        |  reader: null
        |  areas: {}
        |""".stripMargin)
    val s = cfg.productList.settings
    assert(s("subscribe_topics") == """["/foo/bar","/bar/foo"]""")
    assert(s("sunlight_coverage") == """{"min":20.0,"max":80.0}""")
    assert(s("use_extern_calib") == "false")
    assert(!s.contains("reader"))
  }

  test("malformed documents raise ConfigException, not parser internals") {
    // an EMPTY product-list file is an error, not a silent no-op run
    // (test_cli.py:117-127 expects IOError + "check YAML file")
    intercept[ConfigException](ProductListLoader.fromYaml(""))
    intercept[ConfigException](ProductListLoader.fromYaml("just a scalar"))
    intercept[ConfigException](ProductListLoader.fromYaml("areas: {}")) // no product_list
    intercept[ConfigException](ProductListLoader.fromYaml(
      "product_list:\n  areas:\n    a:\n      priority: high\n"))
    intercept[ConfigException](ProductListLoader.fromYaml("{not json"))
  }
}
