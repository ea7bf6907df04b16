"""Every oracle's SQL, pinned as data: a sha256 of each registered
oracle's whitespace-normalised text. Refactoring the oracle builders
must leave every hash unchanged; editing an oracle on purpose means
regenerating the pin with the snippet below and committing it with the
edit.

    python -c "import json, tests.test_oracle_pin as t; \\
        json.dump(t.digests(), open(t.PIN, 'w'), indent=1, sort_keys=True)"
"""

import hashlib
import json
import os

from renkodf_spark.queries import oracle_sql

PIN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_sql_pin.json")


def digests() -> dict[str, str]:
    return {
        name: hashlib.sha256(" ".join(sql.split()).encode()).hexdigest()
        for name, sql in sorted(oracle_sql().items())
    }


def test_every_oracle_renders_its_pinned_sql():
    with open(PIN) as fh:
        pinned = json.load(fh)
    got = digests()
    assert sorted(got) == sorted(pinned)
    changed = sorted(n for n in pinned if got[n] != pinned[n])
    assert not changed, f"oracle SQL changed: {changed}"
