"""session.get_spark's machine-derived defaults, as a pure function (no
second JVM is started)."""

from __future__ import annotations

import pytest

from dmshadoop_spark.session import machine_defaults

_GIB = 2**30


@pytest.mark.parametrize(
    "cpus, physical, want",
    [
        (4, 15 * _GIB, ("4", "7g")),  # the host that lost a 32g JVM
        (4, 15 * _GIB + 512 * 2**20, ("4", "7g")),  # whole GiB, rounded down
        (32, 256 * _GIB, ("32", "32g")),  # capped at 32g
        (64, 64 * _GIB, ("64", "32g")),
        (2, 3 * _GIB, ("2", "1g")),
        (1, _GIB, ("1", "1g")),  # at least 1g
        (1, 256 * 2**20, ("1", "1g")),
    ],
)
def test_machine_defaults(cpus, physical, want):
    assert machine_defaults(cpus, physical) == want
