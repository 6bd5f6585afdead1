"""Minimal OSM XML (`.osm`) writer for test fixtures.

Writes the subset that ``sources.osm_xml.parse_osm_xml`` reads: nodes
(id, lon, lat, tags), ways (id, ordered node refs, tags) and relations
(id, node/way/relation members, tags). ElementTree does the escaping, so
tag keys and values may hold any XML-special character.
"""

import xml.etree.ElementTree as ET

# The upstream project's smallest fixture, as documented in FIXTURES.md §4:
# three tagged nodes (a tree and two benches), no ways, no relations.
SMALL_NODES = [
    (1, 9.9330, 53.587, {"height": "10.5", "natural": "tree"}),
    (2, 9.9331, 53.587, {"amenity": "bench", "backrest": "no", "name": "Testbank"}),
    (3, 9.9332, 53.587, {"amenity": "bench", "backrest": "yes", "material": "wood"}),
]


def _add_tags(el, tags):
    for k, v in sorted((tags or {}).items()):
        ET.SubElement(el, "tag", k=k, v=v)


def write_osm_xml(path, nodes, ways=(), relations=()):
    """Write an OSM 0.6 XML file.

    nodes: (id, lon, lat, tags); ways: (id, node_ids, tags); relations:
    (id, node_member_ids, way_member_ids, child_relation_ids, tags) — the
    row shapes of the engine's raw node/way/relation tables.
    """
    root = ET.Element("osm", version="0.6", generator="soq-tests")
    for nid, lon, lat, tags in nodes:
        # repr round-trips the double exactly through float()
        el = ET.SubElement(root, "node", id=str(nid), lat=repr(float(lat)), lon=repr(float(lon)))
        _add_tags(el, tags)
    for wid, node_ids, tags in ways:
        el = ET.SubElement(root, "way", id=str(wid))
        for ref in node_ids:
            ET.SubElement(el, "nd", ref=str(ref))
        _add_tags(el, tags)
    for rid, node_refs, way_refs, rel_refs, tags in relations:
        el = ET.SubElement(root, "relation", id=str(rid))
        for mtype, refs in (("node", node_refs), ("way", way_refs), ("relation", rel_refs)):
            for ref in refs:
                ET.SubElement(el, "member", type=mtype, ref=str(ref), role="")
        _add_tags(el, tags)
    ET.ElementTree(root).write(path, encoding="utf-8", xml_declaration=True)
    return path
