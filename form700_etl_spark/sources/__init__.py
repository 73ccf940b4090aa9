"""Source connectors (reference SURVEY §2.1)."""

from .rest import RestSourceConfig  # noqa: F401
from .rest_datasource import read_rest  # noqa: F401
