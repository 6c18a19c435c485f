from .lake import AppendOnlyTable, ChunkStore, MorBucketedLake  # noqa: F401
from .ingest import CdcIngestJob, IngestMetrics  # noqa: F401
