import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simple_osm_queries_spark.session import get_spark  # noqa: E402
from simple_osm_queries_spark.sources import datagen  # noqa: E402
from simple_osm_queries_spark.sources.dataset import prepare  # noqa: E402

N_NODES = 600
N_WAYS = 120
N_RELATIONS = 40


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("soq-tests", cores=4, shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def small_pdfs():
    """Driver-side pandas fixtures (input to both Spark and the oracle)."""
    nodes = datagen.nodes_pdf(np.arange(N_NODES), with_images=False)
    ways = datagen.ways_pdf(np.arange(N_WAYS), N_NODES)
    relations = datagen.relations_pdf(np.arange(N_RELATIONS), N_NODES, N_WAYS)
    return nodes, ways, relations


@pytest.fixture(scope="session")
def dataset(spark):
    """Prepared OsmDataset generated DISTRIBUTED (the real path), same rules
    as small_pdfs so oracle comparisons line up row-for-row."""
    ds = prepare(
        datagen.gen_nodes(spark, N_NODES, partitions=4, with_images=False),
        datagen.gen_ways(spark, N_WAYS, N_NODES, partitions=2),
        datagen.gen_relations(spark, N_RELATIONS, N_NODES, N_WAYS),
    )
    return ds.cache()


@pytest.fixture(scope="session")
def oracle_data(small_pdfs):
    from tests.oracle import OracleData

    nodes, ways, relations = small_pdfs
    return OracleData.build(nodes, ways, relations)


@pytest.fixture(scope="session")
def small_osm(tmp_path_factory):
    """Path of the 3-node OSM XML fixture (FIXTURES.md §4), written by the
    in-repo writer once per session."""
    from tests.osm_xml_writer import SMALL_NODES, write_osm_xml

    return write_osm_xml(str(tmp_path_factory.mktemp("osm") / "test-small.osm"), SMALL_NODES)
