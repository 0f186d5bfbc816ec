"""Write-Audit-Publish (WAP) over the transaction-log format — the
public Iceberg/Nessie staging pattern: land new data on an ISOLATED
zero-copy branch, audit it there (quality gates, dedup, manual
quarantine — the branch is a real table, every operator works), then
PUBLISH the net new rows into the production table exactly-once.
Consumers of the source never see unaudited rows; a failed audit
publishes nothing and the branch is simply vacuumed away.

Composition, not new machinery — three existing primitives:

- the branch is a SHALLOW CLONE (``TxTable.clone_to``): one metadata
  commit, zero data copied;
- the branch's delta since the last publish is its CHANGE DATA FEED
  (``changes()``) — O(branch commits), never a snapshot diff;
- the publish is ``append_stream_batch`` with the branch HEAD VERSION
  as the batch id: the source's txn watermark makes a replayed or
  concurrent publish of the same branch state commit NOTHING
  (exactly-once), and the next publish resumes from the watermark —
  repeated publishes are incremental.

The delta is NETTED by full row before publishing (signed multiset —
the scd.py discipline): an audit that DELETES bad rows on the branch
simply removes them from the published set, and a branch-side update
of an unpublished row publishes only the corrected version. What the
net can NOT express is retraction of rows the branch inherited from
the source (a branch delete_where reaching into cloned base files):
net < 0 for such rows, and publish REFUSES loudly — WAP stages
additions; mutating published data is the source's own DML's job.

100 TB: branch open is one commit; audit cost is the audit's own
(branch-local files only, if the audit touches only new data); publish
reads O(branch delta) and appends O(net rows). Nothing ever rewrites
the production table.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .sources.txlog import TxTable
from .streaming.ivm import signed_weight


class WapBranch:
    """A staging branch of ``source``. ``open()`` cuts the branch;
    write and audit through ``.branch`` (a full TxTable); ``publish()``
    folds the audited net-new rows into the source."""

    def __init__(self, source: TxTable, branch: TxTable):
        self.source = source
        self.branch = branch
        # the watermark key is the branch's identity: publishes of one
        # branch serialize; distinct branches publish independently
        self._app = "wap:" + os.path.abspath(branch.root)

    @classmethod
    def open(cls, source: TxTable, root: str) -> "WapBranch":
        """Cut a staging branch at the source's current head — one
        metadata commit, zero data copied."""
        return cls(source, source.clone_to(root))

    def published_through(self) -> int:
        """Branch version the source has absorbed (0 = only the clone
        snapshot itself) — read from the source's txn watermark."""
        last = self.source.last_stream_batch(self._app)
        return 0 if last is None else last

    def publish(self) -> int | None:
        """Fold the branch's net-new rows since the last publish into
        the source, exactly-once. Returns the source commit version, or
        None when there is nothing new (or a concurrent publish of the
        same branch state won the race). Refuses loudly if the branch
        delta retracts inherited base rows (see module docstring)."""
        base, head = self.published_through(), self.branch.version()
        if head <= base:
            return None
        feed = self.branch.changes(base, head)
        cols = [
            c
            for c in feed.columns
            if c not in ("_change_type", "_commit_version")
        ]
        if {"__net", "__i"} & set(cols):
            raise ValueError(
                "WAP publish: source columns named __net/__i collide "
                "with internal aliases — rename them first"
            )
        w = signed_weight()
        from .checkpointing import release, truncate_lineage

        # ONE evaluation of the delta fold — it feeds the retraction
        # probe AND the publish rows (uncut, the O(branch delta) feed
        # would scan twice)
        net = truncate_lineage(
            feed.groupBy(*cols).agg(F.sum(w).cast("long").alias("__net"))
        )
        try:
            # a net retraction can only mean the branch deleted rows it
            # inherited from the source — bounded probe, loud refusal
            if net.filter(F.col("__net") < 0).limit(1).count():
                raise ValueError(
                    "WAP publish: the branch delta retracts rows "
                    "inherited from the source (a branch delete/update "
                    "reached into cloned base files) — WAP stages "
                    "additions; retract published data through the "
                    "source's own DML"
                )
            rows = (
                net.filter(F.col("__net") > 0)
                .withColumn(
                    "__i", F.explode(F.sequence(F.lit(1), F.col("__net")))
                )  # re-expand multiplicity: net is a signed MULTISET
                .drop("__net", "__i")
            )
            # an all-deleted batch (zero net rows) still commits: the
            # empty append carries the watermark, so later publishes
            # never re-read the dead range. None here means a REPLAY/
            # concurrent publisher already carried this head.
            return self.source.append_stream_batch(rows, self._app, head)
        finally:
            release(net)
