"""spark-submit --py-files packaging: the zip built by
tools/make_pyfiles_zip.py must be importable as a zip (north rule: "ships
via spark-submit --py-files") — including zip-safe resource loading for the
web UI and the pure-Python layers (parser, codecs, s2)."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_zip_imports_in_clean_interpreter(tmp_path):
    out = tmp_path / "soq.zip"
    subprocess.run(
        [sys.executable, str(ROOT / "tools" / "make_pyfiles_zip.py"), str(out)],
        check=True,
        capture_output=True,
    )
    probe = r"""
import sys
zip_path = sys.argv[1]
sys.path.insert(0, zip_path)
# make sure we import from the ZIP, not a checkout
import simple_osm_queries_spark
assert zip_path in simple_osm_queries_spark.__file__, simple_osm_queries_spark.__file__

from simple_osm_queries_spark.query.parser import parse_query
q = parse_query("bbox(1,2,3,4).nodes{ a=b AND this.buffer(5m).ways{ c=* } }")
assert len(q.statements) == 1

from simple_osm_queries_spark.web import _app_html
html = _app_html()
assert b"{{bbox}}" in html and b"<canvas" in html

from simple_osm_queries_spark.functions import s2
import numpy as np
cid = s2.lnglat_to_cell([9.95], [53.55], 12)
assert s2.parent_id(cid, 12)[0] == cid[0]

from simple_osm_queries_spark.sources import mvt, osm_pbf
buf = mvt._varint(mvt._zigzag(-7))
assert osm_pbf._decode_packed(memoryview(buf), signed=True).tolist() == [-7]
print("ZIP-IMPORT-OK")
"""
    r = subprocess.run(
        [sys.executable, "-c", probe, str(out)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # not the repo root: the zip must be self-sufficient
    )
    assert r.returncode == 0, r.stderr
    assert "ZIP-IMPORT-OK" in r.stdout
