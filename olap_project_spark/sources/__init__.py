"""Input sources: the exchange-rate dimension (``rates``), the POS
simulator data source (``pos_datasource``) and batch CSV readers
(``batch``)."""
