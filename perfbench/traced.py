"""WaveDriver and SnapshotStore subclasses that open a span around
each eager public call. The program's code runs unchanged inside."""

from __future__ import annotations

from crawlspark.driver import WaveDriver
from crawlspark.tables import SnapshotStore

from spans import Tracer


class TracedStore(SnapshotStore):
    def __init__(self, root, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def commit(self, *args, **kwargs):
        with self.tracer.span("tables.commit"):
            return super().commit(*args, **kwargs)

    def read(self, *args, **kwargs):
        with self.tracer.span("tables.read"):
            return super().read(*args, **kwargs)

    def read_split(self, *args, **kwargs):
        with self.tracer.span("tables.read_split"):
            return super().read_split(*args, **kwargs)


class TracedDriver(WaveDriver):
    def __init__(self, spark, store: TracedStore, **kwargs):
        super().__init__(spark, store, **kwargs)
        self.tracer = store.tracer

    def run_wave(self, *args, **kwargs):
        with self.tracer.span("driver.run_wave") as s:
            stats = super().run_wave(*args, **kwargs)
            if s is not None:
                s.attrs.update(stats)
            return stats

    def compact(self):
        with self.tracer.span("driver.compact"):
            return super().compact()

    def bootstrap(self, seeds):
        with self.tracer.span("driver.bootstrap"):
            return super().bootstrap(seeds)

    def reseed(self, seeds=None):
        with self.tracer.span("driver.reseed"):
            return super().reseed(seeds)

    def frontier_view(self):
        with self.tracer.span("driver.frontier_view"):
            return super().frontier_view()

    def seen_view(self):
        with self.tracer.span("driver.seen_view"):
            return super().seen_view()
