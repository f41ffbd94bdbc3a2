"""The crash-atomicity cases of ``tests/test_txn_recovery.py`` on the
driver placement: every commit below the byte budget stages on the driver
and writes with pyarrow."""

from tests.test_txn_recovery import *  # noqa: F401,F403  (the cases and their fixtures)

COMMIT_BYTES = 1 << 40
