"""Direct filesystem calls in the index and streaming modules may only
shrink: data files land through format.land, expire through
format.sweep and single driver-side files go through format.put_table,
so that one storage seam can later replace those helpers. format.py
itself is the local backend and is not counted."""

import glob
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "text_search_spark",
)
FS_CALL = re.compile(
    r"os\.(rename|replace|remove|unlink|link|makedirs|walk|listdir)\("
    r"|shutil\.(rmtree|move|copy)"
)
# build.py: the encoder's spool unlink, the term_stats stage's makedirs,
# the tokens_tmp cleanup
MAX_CALLS = 3


def test_direct_fs_calls_only_shrink():
    found = []
    for sub in ("index", "streaming"):
        for path in sorted(glob.glob(os.path.join(PKG, sub, "*.py"))):
            if os.path.relpath(path, PKG) == os.path.join("index", "format.py"):
                continue
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    found += [
                        f"{os.path.relpath(path, PKG)}:{i}"
                        for _ in FS_CALL.finditer(line)
                    ]
    assert len(found) <= MAX_CALLS, (
        f"{len(found)} direct filesystem calls outside index/format.py "
        f"(at most {MAX_CALLS}): {found}"
    )
