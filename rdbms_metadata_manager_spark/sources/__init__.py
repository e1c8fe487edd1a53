from .pyds import (
    CatalogFixtureDataSource,
    TickStreamDataSource,
    read_catalog_fixture,
    read_tick_stream,
)

__all__ = [
    "CatalogFixtureDataSource",
    "TickStreamDataSource",
    "read_catalog_fixture",
    "read_tick_stream",
]
