"""tools/make_sf_data.py: generated timestamps do not depend on the host
time zone."""

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))

from make_sf_data import _day_us  # noqa: E402


def test_day_us_reads_dates_as_utc():
    saved = os.environ.get("TZ")
    got = {}
    try:
        for tz in ("UTC", "America/Los_Angeles"):
            os.environ["TZ"] = tz
            time.tzset()
            got[tz] = (_day_us("1995-01-01"), time.timezone)
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()
    assert got["America/Los_Angeles"][1] != got["UTC"][1]  # the zone did switch
    assert got["UTC"][0] == got["America/Los_Angeles"][0] == 788_918_400 * 1_000_000
