"""The segment pipeline has one home, index/build.py: the streaming
modules land their batches through build.land_on_driver and
build.land_on_spark and hold no posting shuffle, sort or segment encoder
of their own, so a change to the landing cannot drift between a build
and a stream batch."""

import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "text_search_spark",
)
PIPELINE = (
    "mapInArrow(", "sortWithinPartitions(", ".repartition(", "_segment_builder"
)


def test_streaming_holds_no_segment_pipeline():
    found = []
    for path in sorted(glob.glob(os.path.join(PKG, "streaming", "*.py"))):
        with open(path) as f:
            for i, line in enumerate(f, 1):
                found += [
                    f"{os.path.relpath(path, PKG)}:{i}: {p}"
                    for p in PIPELINE
                    if p in line
                ]
    assert not found, found
