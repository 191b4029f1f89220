import json

import pytest

import datagen
import fixture_stats

with open(fixture_stats.RECORDED) as f:
    RECORDED = json.load(f)


@pytest.mark.parametrize("scale", sorted(RECORDED["rows"]))
def test_row_counts_match_the_fixtures_at_every_scale(scale):
    tables = datagen.fixture_tables(1, float(scale.removeprefix("sf")))
    assert {k: t.num_rows for k, t in tables.items()} == RECORDED["rows"][scale]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_distributions_match_the_recorded_profile(seed):
    sf = float(RECORDED["scale"].removeprefix("sf"))
    got = fixture_stats.profile(datagen.fixture_tables(seed, sf))
    assert fixture_stats.differences(RECORDED["profile"], got) == []


def test_profile_comparison_rejects_a_resized_table():
    sf = float(RECORDED["scale"].removeprefix("sf"))
    tables = datagen.fixture_tables(1, sf)
    tables["embeddings"] = tables["embeddings"].slice(0, 250)
    diffs = fixture_stats.differences(RECORDED["profile"], fixture_stats.profile(tables))
    assert "embeddings.rows: fixture 500, generated 250" in diffs
