"""The AQE coalescing settings are checked before they reach the Spark
config, so a malformed value fails naming its variable. No session is
built."""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.session import aqe_coalescing

FIRST = "SPARK_GRAFT_AQE_PARALLELISM_FIRST"
SIZE = "SPARK_GRAFT_ADVISORY_PARTITION"


@pytest.mark.parametrize("env, want", [
    ({}, ("true", "64m")),
    ({FIRST: "false", SIZE: "256m"}, ("false", "256m")),
    ({FIRST: " TRUE ", SIZE: "128MB"}, ("true", "128mb")),
    ({SIZE: "134217728"}, ("true", "134217728")),
    ({SIZE: "1g"}, ("true", "1g")),
    ({SIZE: "512kb"}, ("true", "512kb")),
])
def test_valid_settings_pass_through(env, want):
    assert aqe_coalescing(env) == want


@pytest.mark.parametrize("env, var", [
    ({FIRST: "yes"}, FIRST),
    ({FIRST: ""}, FIRST),
    ({SIZE: "64 MB"}, SIZE),
    ({SIZE: "-64m"}, SIZE),
    ({SIZE: "1.5g"}, SIZE),
    ({SIZE: "big"}, SIZE),
    ({SIZE: "64mib"}, SIZE),
])
def test_malformed_settings_name_their_variable(env, var):
    with pytest.raises(ValueError, match=var):
        aqe_coalescing(env)
