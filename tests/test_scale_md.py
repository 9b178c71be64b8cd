"""tools/scale_rehearsal.py rewrites only the sections of SCALE.md it
generates: a regeneration keeps every hand-kept section after them, as
tools/dump_plans.py does for PLANS.md.  No Spark session is started."""

import re

from tools import scale_rehearsal

HEADING = re.compile(r"^## .+$", re.M)


def test_regeneration_keeps_every_scale_md_section():
    old = (scale_rehearsal.ROOT / "SCALE.md").read_text()
    headings = HEADING.findall(old)
    assert len(headings) == 8
    new = scale_rehearsal.render_scale_md(
        [("some_query", 1.0, 10.0, 10.0, "identical")], old
    )
    assert HEADING.findall(new) == headings
    # the hand-kept sections come through byte for byte
    first_kept = old.index("## Skew rehearsal")
    assert new.endswith(old[first_kept:])
