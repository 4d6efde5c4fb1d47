"""Seeded OSM XML generator for the ETL workload.

Writes one ``<osm>`` document in the element shapes of
``scripts/osm_scale.py``: nodes carrying attribute sets, every fifth node
tagged with keys that hit the postcode and phone cleaning rules and
namespaced keys, ways with ordered ``<nd>`` refs, plus a few relations the
parser must skip. Which elements and tags exist depends only on the element
counts, so the five shaped tables have closed-form row counts
(:func:`expected_counts`); the seed varies every value.
"""

from __future__ import annotations

import os
import random

NDS_PER_WAY = 6
N_RELATIONS = 3

_USERS = ["Dutch Mapper", "amster_dan", "grachten_gids", "bike+canal", "Jörg"]
_AMENITIES = ["restaurant", "cafe", "pub", "fast_food", "bar", "bench"]
_HIGHWAYS = ["cycleway", "residential", "footway", "service", "primary"]
_NAMES = [
    "Coffeeshop Basjoe", "Coffee company", "coffee corner", "Café X",
    "De Wallen", "Bakkerij Jordaan", "COFFEE & TEA", "Het Paleis",
]
_LETTERS = "ABCDEFGHJKLMNPRSTVWXZ"


def _postcode(rng: random.Random) -> str:
    digits = rng.randint(1011, 1109)
    pair = rng.choice(_LETTERS) + rng.choice(_LETTERS)
    shape = rng.randrange(3)
    if shape == 0:
        return f"{digits} {pair}"  # already canonical
    if shape == 1:
        return f"{digits}{pair}"  # no space
    return f" {digits}{pair} "  # padded


def _phone(rng: random.Random) -> str:
    """A Dutch phone number in one of the formats whose digit count picks a
    different branch of the phone cleaning rule (7 to 13 digits)."""
    local = rng.randint(1000000, 9999999)
    shape = rng.randrange(6)
    if shape == 0:
        return f"+31 20 {local // 10000} {local % 10000:04d}"  # 11 digits
    if shape == 1:
        return f"020-{local}"  # 10 digits
    if shape == 2:
        return f"+31 (0)20 {local}"  # 12 digits
    if shape == 3:
        return f"0031 20 {local}"  # 13 digits
    if shape == 4:
        return f"{local}"  # 7 digits
    return f"0{local}"  # 8 digits


def _node(rng: random.Random, nid: int, j: int) -> str:
    ts = (
        f"20{rng.randint(10, 16)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z"
    )
    head = (
        f'  <node id="{nid}" lat="{52.3 + rng.random() * 0.1:.7f}" '
        f'lon="{4.8 + rng.random() * 0.15:.7f}" user="{rng.choice(_USERS)}" '
        f'uid="{3781654 + rng.randrange(211)}" version="{rng.randint(1, 9)}" '
        f'changeset="{42679914 + rng.randrange(100000)}" timestamp="{ts}"'
    )
    if j % 5:
        return head + "/>\n"
    tags = [
        f'    <tag k="amenity" v="{rng.choice(_AMENITIES)}"/>\n',
        f'    <tag k="addr:postcode" v="{_postcode(rng)}"/>\n',
    ]
    if j % 15 == 0:
        tags.append(f'    <tag k="phone" v="{_phone(rng)}"/>\n')
    if j % 25 == 0:
        tags.append(
            f'    <tag k="addr:street:name" v="Prinsengracht {rng.randint(1, 999)}"/>\n'
        )
    if j % 50 == 0:
        tags.append(f'    <tag k="name" v="{rng.choice(_NAMES).replace("&", "&amp;")}"/>\n')
    return head + ">\n" + "".join(tags) + "  </node>\n"


def _way(rng: random.Random, wid: int, j: int, node_ids: range) -> str:
    ts = f"20{rng.randint(10, 16)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T11:00:00Z"
    head = (
        f'  <way id="{wid}" user="{rng.choice(_USERS)}" '
        f'uid="{3781654 + rng.randrange(211)}" version="{rng.randint(1, 9)}" '
        f'changeset="{42679914 + rng.randrange(100000)}" timestamp="{ts}">\n'
    )
    start = rng.randrange(len(node_ids) - NDS_PER_WAY)
    nds = "".join(
        f'    <nd ref="{node_ids[start + k]}"/>\n' for k in range(NDS_PER_WAY)
    )
    tags = (
        f'    <tag k="highway" v="{rng.choice(_HIGHWAYS)}"/>\n'
        f'    <tag k="source" v="BAG"/>\n'
        f'    <tag k="bag:pand" v="{363100012000000 + rng.randrange(10**6)}"/>\n'
    )
    if j % 4 == 0:
        tags += f'    <tag k="addr:postcode" v="{_postcode(rng)}"/>\n'
    return head + nds + tags + "  </way>\n"


def write_osm(path: str, n_nodes: int, n_ways: int, seed: int) -> int:
    """Write the document to ``path``; return its size in bytes."""
    if n_ways and n_nodes <= NDS_PER_WAY:
        raise ValueError(f"ways need more than {NDS_PER_WAY} nodes to refer to")
    rng = random.Random(seed)
    node_ids = range(1_000_000, 1_000_000 + n_nodes)
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n')
        f.writelines(_node(rng, nid, j) for j, nid in enumerate(node_ids))
        f.writelines(
            _way(rng, 900_000_000 + j, j, node_ids) for j in range(n_ways)
        )
        for r in range(N_RELATIONS):
            f.write(
                f'  <relation id="{5_000_000 + r}" version="1">\n'
                f'    <member type="way" ref="{900_000_000 + r}" role="outer"/>\n'
                f'    <tag k="type" v="multipolygon"/>\n  </relation>\n'
            )
        f.write("</osm>\n")
    return os.path.getsize(path)


def expected_counts(n_nodes: int, n_ways: int) -> dict[str, int]:
    """Row counts of the five shaped tables under the default shaping
    config (no generated key carries a problematic character)."""

    def every(k: int, n: int) -> int:
        return -(-n // k)  # j in [0, n) with j % k == 0, j = 0 included

    return {
        "nodes": n_nodes,
        "nodes_tags": every(5, n_nodes) * 2 + every(15, n_nodes)
        + every(25, n_nodes) + every(50, n_nodes),
        "ways": n_ways,
        "ways_tags": n_ways * 3 + every(4, n_ways),
        "ways_nodes": n_ways * NDS_PER_WAY,
    }
