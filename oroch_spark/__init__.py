from oroch_spark import _zipcache

_zipcache.install()
