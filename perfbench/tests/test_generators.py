import hashlib
import xml.etree.ElementTree as ET

import pyarrow.parquet as pq
import pytest

import osmgen
import stargen


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize("n_nodes,n_ways", [(7, 1), (149, 37), (1000, 250)])
def test_osm_counts_match_closed_form(tmp_path, n_nodes, n_ways):
    path = str(tmp_path / "a.osm")
    osmgen.write_osm(path, n_nodes, n_ways, seed=7)
    root = ET.parse(path).getroot()
    nodes, ways = root.findall("node"), root.findall("way")
    got = {
        "nodes": len(nodes),
        "nodes_tags": sum(len(n.findall("tag")) for n in nodes),
        "ways": len(ways),
        "ways_tags": sum(len(w.findall("tag")) for w in ways),
        "ways_nodes": sum(len(w.findall("nd")) for w in ways),
    }
    assert got == osmgen.expected_counts(n_nodes, n_ways)
    assert len(root.findall("relation")) == osmgen.N_RELATIONS


def test_osm_rejects_ways_without_enough_nodes(tmp_path):
    with pytest.raises(ValueError):
        osmgen.write_osm(str(tmp_path / "a.osm"), osmgen.NDS_PER_WAY, 1, seed=1)


def test_osm_seed_varies_values_not_shape(tmp_path):
    a, b, c = (str(tmp_path / f"{x}.osm") for x in "abc")
    osmgen.write_osm(a, 500, 100, seed=1)
    osmgen.write_osm(b, 500, 100, seed=1)
    osmgen.write_osm(c, 500, 100, seed=2)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    shape = lambda p: [(e.tag, len(e)) for e in ET.parse(p).getroot()]  # noqa: E731
    assert shape(a) == shape(c)


def test_star_rows_and_determinism(tmp_path):
    sizes = stargen.write_star(str(tmp_path / "a"), 0.001, seed=3)
    stargen.write_star(str(tmp_path / "b"), 0.001, seed=3)
    stargen.write_star(str(tmp_path / "c"), 0.001, seed=4)
    assert sorted(sizes) == sorted(stargen.TABLES)
    for name, n in stargen.rows(0.001).items():
        a = pq.read_table(str(tmp_path / "a" / f"{name}.parquet"))
        assert a.num_rows == n
        assert a.equals(pq.read_table(str(tmp_path / "b" / f"{name}.parquet")))
    docs = pq.read_table(str(tmp_path / "c" / "documents.parquet"))
    assert not docs.equals(pq.read_table(str(tmp_path / "a" / "documents.parquet")))
