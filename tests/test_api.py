"""Catalog naming conventions."""

from __future__ import annotations

import pytest

from nycitibike_data_transform_spark.catalog import table_name


def test_catalog_naming():
    assert table_name("CORE", "2_stg", "AUX_TLC_RIDES") == "core_2_stg__aux_tlc_rides"
    with pytest.raises(ValueError, match="env"):
        table_name("prod", "2_stg", "x")
    with pytest.raises(ValueError, match="layer"):
        table_name("core", "5_gold", "x")
