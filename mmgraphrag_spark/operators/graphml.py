"""S6 — GraphML export of the node/edge tables.

The reference persists every graph as GraphML
(/root/reference/mmgraphrag/storage.py:336-341; node keys d0-d2 = entity_type,
description, source_id; edge keys d3-d6 = weight, description, source_id,
order; ``edgedefault="undirected"``). Our canonical store is the checkpoint
tables — GraphML is an export artifact for parity diffs against the
reference's example_output: executors render the XML fragments
(:func:`export_graphml_distributed`) and the driver concatenates them into
one file (:func:`assemble_graphml`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

HEADER = """<?xml version='1.0' encoding='utf-8'?>
<graphml xmlns="http://graphml.graphdrawing.org/xmlns" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" xsi:schemaLocation="http://graphml.graphdrawing.org/xmlns http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd">
  <key id="d6" for="edge" attr.name="order" attr.type="long" />
  <key id="d5" for="edge" attr.name="source_id" attr.type="string" />
  <key id="d4" for="edge" attr.name="description" attr.type="string" />
  <key id="d3" for="edge" attr.name="weight" attr.type="double" />
  <key id="d2" for="node" attr.name="source_id" attr.type="string" />
  <key id="d1" for="node" attr.name="description" attr.type="string" />
  <key id="d0" for="node" attr.name="entity_type" attr.type="string" />
  <graph edgedefault="undirected">
"""
FOOTER = "  </graph>\n</graphml>\n"


def _xml_escape_col(col):
    """XML-escape a string column ('&' first, then angle brackets) — the
    column twin of xml.sax.saxutils.escape."""
    from pyspark.sql import functions as F

    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    return F.replace(out, F.lit(">"), F.lit("&gt;"))


def export_graphml_distributed(nodes: DataFrame, edges: DataFrame, out_dir: str) -> None:
    """S6 at scale: render XML fragments executor-side and write them as text
    part-files — no row ever visits the driver. Layout::

        out_dir/header.xml      (driver, constant)
        out_dir/nodes/part-*    (distributed)
        out_dir/edges/part-*    (distributed)
        out_dir/footer.xml      (driver, constant)

    Nodes are sorted by ``entity_name`` and edges by (``src``, ``dst``), so
    the part files hold the elements in that order. Concatenating header +
    nodes/* + edges/* + footer in that order yields one deterministic
    GraphML document; :func:`assemble_graphml` does it driver-side for
    parity-diff-sized graphs."""
    from pathlib import Path

    from pyspark.sql import functions as F

    def esc(c):
        return _xml_escape_col(F.col(c))

    node_xml = F.concat(
        F.lit('    <node id="'), esc("entity_name"), F.lit('">\n'),
        F.lit('      <data key="d0">'), esc("entity_type"), F.lit("</data>\n"),
        F.lit('      <data key="d1">'), esc("description"), F.lit("</data>\n"),
        F.lit('      <data key="d2">'), esc("source_id"), F.lit("</data>\n"),
        F.lit("    </node>"),
    )
    edge_xml = F.concat(
        F.lit('    <edge source="'), esc("src"), F.lit('" target="'), esc("dst"),
        F.lit('">\n'),
        F.lit('      <data key="d3">'), F.col("weight").cast("string"), F.lit("</data>\n"),
        F.lit('      <data key="d4">'), esc("description"), F.lit("</data>\n"),
        F.lit('      <data key="d5">'), esc("source_id"), F.lit("</data>\n"),
        F.lit('      <data key="d6">'), F.col("order").cast("string"), F.lit("</data>\n"),
        F.lit("    </edge>"),
    )
    (nodes.orderBy("entity_name").select(node_xml.alias("value"))
     .write.mode("overwrite").text(f"{out_dir}/nodes"))
    (edges.orderBy("src", "dst").select(edge_xml.alias("value"))
     .write.mode("overwrite").text(f"{out_dir}/edges"))
    Path(out_dir, "header.xml").write_text(HEADER, encoding="utf-8")
    Path(out_dir, "footer.xml").write_text(FOOTER, encoding="utf-8")


def assemble_graphml(out_dir: str, path: str) -> None:
    """Concatenate a distributed export into one .graphml file (driver-side;
    for parity-diff-scale artifacts — at bulk scale consumers read the
    fragment directories directly)."""
    from pathlib import Path

    with open(path, "w", encoding="utf-8") as f:
        f.write(Path(out_dir, "header.xml").read_text(encoding="utf-8"))
        for section in ("nodes", "edges"):
            for part in sorted(Path(out_dir, section).glob("part-*")):
                text = part.read_text(encoding="utf-8")
                if text:
                    f.write(text if text.endswith("\n") else text + "\n")
        f.write(Path(out_dir, "footer.xml").read_text(encoding="utf-8"))


def read_graphml(path: str) -> tuple[list[dict], list[dict]]:
    """S5: full GraphML reader -> (nodes, edges) as lists of plain dicts.

    Attribute names resolve through the file's <key> declarations (the
    reference writes them as d0-d6, /root/reference/mmgraphrag/storage.py:
    336-341, but any id scheme works). Edge weight/order are cast per the
    declared attr.type. Driver-side by design: GraphML is the reference's
    human-scale parity artifact, not a bulk interchange format — the bulk
    path is the parquet/Iceberg node+edge tables.
    """
    import xml.etree.ElementTree as ET

    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    root = ET.parse(path).getroot()
    keys: dict[str, tuple[str, str]] = {}
    for k in root.findall("g:key", ns):
        keys[k.attrib["id"]] = (k.attrib["attr.name"], k.attrib.get("attr.type", "string"))

    def _data(el) -> dict:
        out = {}
        for d in el.findall("g:data", ns):
            name, typ = keys.get(d.attrib["key"], (d.attrib["key"], "string"))
            v: object = d.text or ""
            if typ in ("long", "int"):
                v = int(float(v))
            elif typ in ("double", "float"):
                v = float(v)
            out[name] = v
        return out

    graph = root.find("g:graph", ns)
    nodes = [{"entity_name": n.attrib["id"], **_data(n)} for n in graph.findall("g:node", ns)]
    edges = [
        {"src": e.attrib["source"], "dst": e.attrib["target"], **_data(e)}
        for e in graph.findall("g:edge", ns)
    ]
    return nodes, edges


def graphml_node_edge_dfs(spark, path: str):
    """S5: GraphML file -> (nodes DataFrame, edges DataFrame) in the canonical
    table schemas. Small-file source (the reference's graphs are example-scale);
    a bulk graph source is the parquet checkpoint tables."""
    nodes, edges = read_graphml(path)
    ndf = spark.createDataFrame(
        [
            (
                n["entity_name"],
                str(n.get("entity_type", "")),
                str(n.get("description", "")),
                str(n.get("source_id", "")),
            )
            for n in nodes
        ],
        schema="entity_name string, entity_type string, description string, source_id string",
    )
    edf = spark.createDataFrame(
        [
            (
                e["src"],
                e["dst"],
                float(e.get("weight", 1.0)),
                str(e.get("description", "")),
                str(e.get("source_id", "")),
                int(e.get("order", 1)),
            )
            for e in edges
        ],
        schema="src string, dst string, weight double, description string,"
        " source_id string, order int",
    )
    return ndf, edf
