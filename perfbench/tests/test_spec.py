"""BENCHMARK.json declares exactly the metrics the benchmark emits."""

import json
import os

import layers

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "BENCHMARK.json")


def test_per_layer_metrics_match_the_layer_map():
    with open(SPEC) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        name: unit for name, (unit, _) in layers.MOVES.items()
    }
