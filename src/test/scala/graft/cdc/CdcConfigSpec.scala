package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's ConfigParserTests: JSON and YAML configs load,
  * defaults apply, routes/fan-out degree derive correctly.
  */
class CdcConfigSpec extends AnyFunSuite {

  val yaml: String =
    """source:
      |  format: compact
      |  prefix: m2.m2.
      |  group: cdc
      |  consumer: cdc
      |  acknowledge: delete
      |  connection: { host: 127.0.0.1, port: 6389, db: 2 }
      |buffers:
      |  source: { size: 1000, time: 1000 }
      |  dedupe: { size: 100000, time: 5000 }
      |  target: { size: 1000, time: 1000 }
      |target:
      |  prefix: target.
      |  connection: { host: 127.0.0.1, port: 6389, db: 1 }
      |mapping:
      |  catalog_category_entity:
      |    entity_id: [catalog_product_flat, catalog_category_product]
      |  cataloginventory_stock_item:
      |    product_id: [cataloginventory_stock]
      |""".stripMargin

  test("yaml config parses with reference schema") {
    val c = CdcConfig.parse(yaml, yaml = true)
    assert(c.source.group == "cdc")
    assert(c.source.acknowledge == "delete")
    assert(c.buffers.dedupe == Buffer(100000, 5000))
    assert(c.target.prefix == "target.")
    assert(c.mapping("catalog_category_entity")("entity_id") ==
      Seq("catalog_product_flat", "catalog_category_product"))
  }

  test("json config parses and defaults apply") {
    val json = """{"mapping": {"t1": {"c1": ["x"]}}}"""
    val c = CdcConfig.parse(json, yaml = false)
    assert(c.source.acknowledge == "simple") // reference default (ConfigParser.java:31-35)
    assert(c.source.group == "cdc")
    assert(c.buffers.source == Buffer(1000, 1000))
    assert(c.routes == Seq(Route("t1", "c1", "x")))
  }

  test("routes explode deterministically") {
    val c = CdcConfig.parse(yaml, yaml = true)
    assert(c.routes == Seq(
      Route("catalog_category_entity", "entity_id", "catalog_product_flat"),
      Route("catalog_category_entity", "entity_id", "catalog_category_product"),
      Route("cataloginventory_stock_item", "product_id", "cataloginventory_stock")))
  }

  test("debezium config generation substitutes all placeholders") {
    val c = CdcConfig.parse(yaml, yaml = true)
    val props = DebeziumConfigGen.generate(c)
    assert(!props.contains("{{"))
    assert(props.contains("m2.catalog_category_entity"))
    assert(props.contains("m2.catalog_category_entity.entity_id"))
    assert(props.contains("127.0.0.1:6389"))
  }
}
