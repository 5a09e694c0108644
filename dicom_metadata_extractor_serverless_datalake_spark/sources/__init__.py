"""Source readers: the object lister and partition packer behind every
ingest mode, the ``format("dicom")`` data source, and the star-schema
table loaders."""

from .binary import list_binary_objects  # noqa: F401
from .tables import load_table, register_star_schema  # noqa: F401
